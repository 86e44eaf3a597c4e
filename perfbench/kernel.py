"""Spark-free pass over the parse layer's public functions.

Times ``parse.detokenize_array``, each ``fastpath.FAST_PARSERS[fmt]``,
``oracle.parse_message`` and the whole ``parse.parse_record_batch`` on a
fixed sample of a pipeline input (rows drawn with a fixed generator), and
classifies the rows that leave the fast path by the documented eligibility
rule: a line is fast-path eligible only if it is ASCII without NUL; an
eligible line the fast path declines is "declined".
"""

from __future__ import annotations

import statistics
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds

from syslog_spark import constants as C
from syslog_spark import oracle
from syslog_spark.operators import fastpath, parse

SAMPLE_ROWS = 16384
REPS = 3
_YEAR, _TZ = C.DEFAULT_REFERENCE_YEAR, C.DEFAULT_REFERENCE_TZ_OFFSET_SECONDS


def load_sample(tokens_dir: str, rows: int = SAMPLE_ROWS) -> pa.RecordBatch:
    table = ds.dataset(tokens_dir, format="parquet", partitioning="hive").to_table()
    table = table.sort_by("doc_id")
    pick = np.random.default_rng(0).permutation(len(table))[:rows]
    table = table.take(pa.array(np.sort(pick)))
    table = table.select(["doc_id", "tokens", "n_tok", "source"])
    table = table.set_column(
        3, "source", pc.cast(table.column("source"), pa.string())
    )
    return table.combine_chunks().to_batches()[0]


def _timed(fn, *args):
    """(median seconds over REPS calls, last result)."""
    times, out = [], None
    for _ in range(REPS):
        t0 = time.perf_counter()
        out = fn(*args)
        times.append(time.perf_counter() - t0)
    return statistics.median(times), out


def _oracle_all(lines, fmts):
    return [oracle.parse_message(line, fmt, _YEAR, _TZ) for line, fmt in zip(lines, fmts)]


def kernel_pass(batch: pa.RecordBatch) -> dict:
    n = batch.num_rows
    out = {}
    out["kernel.detokenize_s"], lines = _timed(
        parse.detokenize_array, batch.column("tokens")
    )
    source = batch.column("source")
    ineligible = pc.fill_null(
        pc.match_substring_regex(lines, r"[^\x01-\x7f]"), True
    ).to_numpy(zero_copy_only=False)
    fmt_of = np.array([s.split("/", 1)[0] for s in source.to_pylist()])
    fallback = [np.flatnonzero(ineligible)]
    accepted = declined = 0
    for fmt, parser in fastpath.FAST_PARSERS.items():
        mask = fmt_of == fmt
        out[f"kernel.rows.{fmt}"] = float(mask.sum())
        idx = np.flatnonzero(mask & ~ineligible)
        out[f"kernel.fastpath_s.{fmt}"] = 0.0
        if idx.size == 0:
            continue
        sub = lines.take(pa.array(idx, pa.int64()))
        out[f"kernel.fastpath_s.{fmt}"], res = _timed(parser, sub, _YEAR, _TZ)
        slow = np.asarray(res["slow"], bool)
        accepted += int((~slow).sum())
        declined += int(slow.sum())
        fallback.append(idx[slow])
    pos = np.concatenate(fallback)
    fb_lines = lines.take(pa.array(pos, pa.int64())).to_pylist()
    out["kernel.oracle_s"], results = _timed(
        _oracle_all, fb_lines, fmt_of[pos].tolist()
    )
    out["kernel.batch_s"], _ = _timed(
        parse.parse_record_batch, batch, _YEAR, _TZ, False
    )
    out.update({
        "kernel.rows_per_s": n / out["kernel.batch_s"],
        "kernel.fastpath_accept_ratio": accepted / n,
        "kernel.fallback_ineligible_rows": float(ineligible.sum()),
        "kernel.fallback_declined_rows": float(declined),
        "kernel.fallback_ratio": len(pos) / n,
        "kernel.error_rows": float(sum(r.msg is None for r in results)),
    })
    return out
