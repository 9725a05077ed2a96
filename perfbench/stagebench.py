"""Single-threaded cost of each function the parse stage composes.

``stages.parse_batch`` runs, per Arrow batch: Arrow -> pandas, caption
scrub, image decode, language id, perplexity, token statistics and
pandas -> Arrow. Each is timed here on its own, in this process, on
fixed 2048-row batches of the seeded corpus, and reported in
microseconds per row.
"""

from __future__ import annotations

import statistics
import time

import pyarrow as pa
import pyarrow.parquet as pq

BATCH_ROWS = 2048


def _batches(source_dir: str, n_batches: int) -> list[pa.RecordBatch]:
    """The first ``n_batches`` * 2048 rows, shaped like the parse
    stage's input (source columns + source_file + content_hash)."""
    table = pq.read_table(source_dir)
    table = table.slice(0, min(table.num_rows, n_batches * BATCH_ROWS))
    n = table.num_rows
    table = table.append_column("source_file", pa.array(["part"] * n))
    table = table.append_column(
        "content_hash", pa.array([f"{i:032x}" for i in range(n)])
    )
    return table.to_batches(max_chunksize=BATCH_ROWS)


def _us_per_row(fn, arg, rows: int, reps: int) -> float:
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn(arg)
        times.append(time.perf_counter() - t0)
    return statistics.median(times) / rows * 1e6


def measure(source_dir: str, n_batches: int = 2, reps: int = 3) -> dict[str, float]:
    from gobulk_spark.functions import textstats
    from gobulk_spark.functions.scrub import scrub_captions
    from gobulk_spark.models import langid, perplexity
    from gobulk_spark.reference_labeler import decode_batch
    from gobulk_spark.stages import parse_batch

    # fit the lazy model singletons outside the timed calls
    warm = _batches(source_dir, 1)[0].slice(0, 8).to_pandas()
    parse_batch(warm)

    per: dict[str, list[float]] = {}
    for rb in _batches(source_dir, n_batches):
        rows = rb.num_rows
        pdf = rb.to_pandas()
        scrubbed = scrub_captions(pdf["caption"])
        langs = langid.predict(scrubbed)["lang"]
        out = parse_batch(pdf)
        out_schema = pa.Schema.from_pandas(out, preserve_index=False)
        cases = {
            "to_pandas": (lambda b: b.to_pandas(), rb),
            "scrub": (scrub_captions, pdf["caption"]),
            "decode": (decode_batch, pdf["bytes"]),
            "langid": (langid.predict, scrubbed),
            "ppl": (perplexity.score, scrubbed),
            "textstats": (
                lambda s: (
                    textstats.max_word_freq_ratio(s),
                    textstats.stopword_density(s, langs),
                ),
                scrubbed,
            ),
            "from_pandas": (
                lambda o: pa.RecordBatch.from_pandas(
                    o, schema=out_schema, preserve_index=False
                ),
                out,
            ),
        }
        for name, (fn, arg) in cases.items():
            per.setdefault(name, []).append(_us_per_row(fn, arg, rows, reps))
    return {name: statistics.median(v) for name, v in per.items()}
