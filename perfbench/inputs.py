"""Seeded pipeline inputs: a token table plus the oracle's per-sink counts.

Two workloads share one layout (``<dir>/tokens/source=<src>/part-*.parquet``
with columns doc_id, tokens, n_tok):

* ``pipeline_clean``: ``datagen.synth_lines`` over row indices offset by
  the seed (all ASCII, ~1.5% malformed, Zipf facility, 3 formats x 4
  hosts = 12 sources).
* ``pipeline_hostile``: the same row count and line lengths, but one
  (severity, source) sink holds >= 90% of rows and ~30% of rows need the
  per-row oracle: UTF-8 or a BOM in the MSG field, grammar corners and
  error lines from ``datagen.corpus()``.

Generation runs in one process. The expected per-sink row counts come from
running ``oracle.parse_message`` over every generated line: the oracle is
the spec the pipeline's manifest must match. Every run generates its
input afresh, so the input and the expected counts always come from the
checked-out generator and oracle.
"""

from __future__ import annotations

import os
import time
from collections import Counter
from urllib.parse import quote

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from syslog_spark import constants as C
from syslog_spark import oracle
from syslog_spark.sources import datagen

WORKLOADS = ("pipeline_clean", "pipeline_hostile")
HOT_SEVERITY = 6
HOT_SOURCE = f"{C.FORMAT_RFC5424}/h00"
HOT_SHARE = 0.91
UTF8_SHARE = 0.30  # of hot rows; a tenth of them carry a BOM instead
CORPUS_SHARE = 0.03
MAX_CORPUS_LINE = 400  # keeps hostile line lengths close to the clean ones
FILES_PER_INPUT = 12  # rows per parquet file = rows / this, so a hot
                      # source is spread over many files like real ingest
_UTF8_WORDS = np.array(
    ["échec", "ошибка", "接続失敗", "tiếp nhận", "αίτημα", "dépassé",
     "отказано", "zurückgewiesen"]
)


def synth_clean(seed: int, rows: int) -> tuple[pd.Series, pd.Series]:
    idx = np.arange(rows, dtype=np.int64) + np.int64(seed) * rows
    return datagen.synth_lines(idx)


def synth_hostile(seed: int, rows: int) -> tuple[pd.Series, pd.Series]:
    rng = np.random.default_rng(seed)
    kind = rng.random(rows)
    hot = kind < HOT_SHARE
    corner = (kind >= HOT_SHARE) & (kind < HOT_SHARE + CORPUS_SHARE)
    n_hot = int(hot.sum())

    fac = np.where(rng.random(n_hot) < 0.55, 23, rng.integers(0, 24, n_hot))
    num = lambda a: pd.Series(a).astype(str)  # noqa: E731
    two = lambda a: num(a).str.zfill(2)  # noqa: E731
    ts = (
        f"{C.DEFAULT_REFERENCE_YEAR}-" + two(rng.integers(1, 13, n_hot))
        + "-" + two(rng.integers(1, 29, n_hot))
        + "T" + two(rng.integers(0, 24, n_hot))
        + ":" + two(rng.integers(0, 60, n_hot))
        + ":" + two(rng.integers(0, 60, n_hot)) + "+00:00"
    )
    head = (
        "<" + num(fac * 8 + HOT_SEVERITY) + ">1 " + ts
        + " host" + num(rng.integers(0, 64, n_hot)).str.zfill(3)
        + " " + pd.Series(rng.choice(datagen._APPS, n_hot))
        + " p" + num(rng.integers(0, 9973, n_hot))
        + " m" + num(rng.integers(0, 97, n_hot))
        + ' [meta status="' + num(rng.integers(200, 500, n_hot))
        + '" bytes="' + num(rng.integers(0, 5000, n_hot)) + '"] '
    )
    tail = (
        " event " + num(rng.integers(0, 100000, n_hot))
        + " from 192.168.1." + num(rng.integers(0, 255, n_hot))
        + " via relay" + num(rng.integers(0, 16, n_hot))
    )
    pick = rng.random(n_hot)
    ascii_msg = pd.Series(rng.choice(datagen._WORDS, n_hot)) + tail
    utf8_msg = pd.Series(rng.choice(_UTF8_WORDS, n_hot)) + tail
    msg = ascii_msg.where(pick >= UTF8_SHARE, utf8_msg)
    msg = msg.where(pick >= UTF8_SHARE / 10, "\ufeff" + ascii_msg)

    lines = pd.Series(np.empty(rows, dtype=object))
    source = pd.Series(np.empty(rows, dtype=object))
    lines[hot] = (head + msg).to_numpy()
    source[hot] = HOT_SOURCE

    cases = [c for c in datagen.corpus() if len(c[2]) <= MAX_CORPUS_LINE]
    pos = np.flatnonzero(corner)
    which = rng.integers(0, len(cases), len(pos))
    host = rng.integers(0, 4, len(pos))
    lines[pos] = [cases[w][2] for w in which]
    source[pos] = [f"{cases[w][1]}/h{h:02d}" for w, h in zip(which, host)]

    rest = np.flatnonzero(~hot & ~corner)
    r_lines, r_source = datagen.synth_lines(
        rest.astype(np.int64) + np.int64(seed) * rows
    )
    lines[rest] = r_lines.to_numpy()
    source[rest] = r_source.to_numpy()
    return lines, source


SYNTH = {"pipeline_clean": synth_clean, "pipeline_hostile": synth_hostile}


def expected_sinks(lines: pd.Series, source: pd.Series) -> Counter:
    """(sink_severity, source) -> rows, by the per-row oracle. Error rows
    go to sink -1, as in operators/route.py."""
    counts: Counter = Counter()
    for line, src in zip(lines.tolist(), source.tolist()):
        res = oracle.parse_message(line, src.split("/", 1)[0])
        counts[(-1 if res.msg is None else res.msg.severity, src)] += 1
    return counts


def write_tokens(path: str, seed: int, lines: pd.Series, source: pd.Series):
    rows = len(lines)
    doc = pd.Series(
        [f"doc-{seed}-{i:09d}" for i in range(rows)], dtype=object
    )
    per_file = max(1, -(-rows // FILES_PER_INPUT))
    frame = pd.DataFrame({"doc": doc, "line": lines, "source": source})
    for src, grp in frame.groupby("source", sort=True):
        d = os.path.join(path, "source=" + quote(src, safe=""))
        os.makedirs(d)
        batch = datagen.lines_to_token_batch(
            grp["doc"].reset_index(drop=True),
            grp["line"].reset_index(drop=True),
            grp["source"].reset_index(drop=True),
        )
        table = pa.Table.from_batches([batch]).drop(["source"])
        for k, start in enumerate(range(0, len(table), per_file)):
            pq.write_table(
                table.slice(start, per_file), f"{d}/part-{k:05d}.parquet"
            )


def make_input(path: str, workload: str, seed: int, rows: int) -> dict:
    """Generate one input under ``path``; returns its description:
    {"tokens", "rows", "expected": {(sev, src): rows}, "gen_s"}."""
    t0 = time.perf_counter()
    lines, source = SYNTH[workload](seed, rows)
    expected = expected_sinks(lines, source)
    tokens = os.path.join(path, "tokens")
    write_tokens(tokens, seed, lines, source)
    return {
        "tokens": tokens,
        "rows": rows,
        "gen_s": time.perf_counter() - t0,
        "expected": dict(expected),
    }
