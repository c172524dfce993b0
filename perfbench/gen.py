"""Seeded inputs and their reference answers.

Every input is a pure function of the workload seed; the program under
test only ever sees the generated rows, lines and documents.  The
reference answers are computed here with numpy/pandas, independently of
the Spark code paths they check.
"""

from __future__ import annotations

import datetime as dt
import hashlib

import numpy as np
import pandas as pd

DAY_S = 86_400

# ---------------------------------------------------------------- backfill


def tokseq_oracle_1d(n_rows: int, seed: int, step_seconds: int) -> pd.DataFrame:
    """Per-(source, metric, window_start) cnt/sum/min/max of the 1d tier that a
    backfill of ``gen_tokseq(n_rows, seed)`` must produce.

    The extract step turns each token row into four points: three carry
    ``n_tok`` (counter, gauge, timer) and the meter carries 1.
    """
    from logtrics_spark.datagen import _gen_columns
    from logtrics_spark.operators.extract import EPOCH_START, KINDS

    ids = np.arange(n_rows, dtype=np.int64)
    _, _, _, n_tok, sources = _gen_columns(ids, seed, token_cap=1)
    epoch = int(pd.Timestamp(EPOCH_START, tz="UTC").timestamp())
    day = pd.to_datetime((epoch + ids * step_seconds) // DAY_S * DAY_S, unit="s")
    base = pd.DataFrame({"source": sources, "window_start": day, "v": n_tok.astype(np.int64)})
    frames = []
    for metric, kind in KINDS:
        f = base.assign(metric=metric, kind=kind)
        if kind == "meter":
            f["v"] = 1
        frames.append(f)
    pts = pd.concat(frames, ignore_index=True)
    return (
        pts.groupby(["source", "metric", "window_start"])["v"]
        .agg(cnt="count", sum="sum", min="min", max="max")
        .reset_index()
    )


# -------------------------------------------------------------------- live

LIVE_SOURCES = ["api", "web", "worker"]
LIVE_DAY0 = dt.datetime(2024, 3, 1)
_PATHS = ["/", "/login", "/cart", "/search", "/item", "/static/app.js"]

# two rules, one pass: access lines feed a request counter and a latency
# timer, error lines feed an error counter; noise matches neither
ACCESS_RE = r"(?P<method>GET|POST) (?P<path>/\S*) (?P<status>\d{3}) (?P<ms>\d+)ms"
ERROR_RE = r"ERROR (?P<code>E\d+)"


def build_engine():
    from logtrics_spark.api import Engine

    eng = Engine()

    def access(caps, m):
        m.counter("requests").inc(1)
        m.timer("latency").update(caps["ms"])

    def error(caps, m):
        m.counter("errors").inc(1)

    eng.rule("access", ACCESS_RE, access)
    eng.rule("errors", ERROR_RE, error)
    return eng


def gen_lines(seed: int, start: dt.datetime, seconds: int, every: int = 1) -> pd.DataFrame:
    """Access-log lines for ``[start, start + seconds)``: one line per
    ``every`` seconds per source, ~80% access, ~10% ``ERROR E<n>``,
    ~10% noise.  Columns: source, line, ts, kind, ms (the last two are
    the generator's ground truth, dropped before the program sees it).
    """
    t0 = int((start - dt.datetime(1970, 1, 1)).total_seconds())
    rng = np.random.default_rng([seed, t0, seconds, every])
    secs = np.arange(0, seconds, every, dtype=np.int64)
    ns = len(LIVE_SOURCES)
    ts = np.repeat(t0 + secs, ns)
    src = np.tile(np.array(LIVE_SOURCES, dtype=object), len(secs))
    n = len(ts)
    u = rng.random(n)
    kind = np.where(u < 0.8, "access", np.where(u < 0.9, "error", "noise"))
    ms = rng.integers(1, 1000, n)
    method = np.where(rng.random(n) < 0.7, "GET", "POST")
    path = np.array(_PATHS, dtype=object)[rng.integers(0, len(_PATHS), n)]
    status = np.array(["200", "404", "500"], dtype=object)[rng.integers(0, 3, n)]
    code = rng.integers(1, 50, n)
    access = (
        pd.Series(method, dtype=object) + " " + path + " " + status + " "
        + pd.Series(ms).astype(str) + "ms"
    )
    error = "ERROR E" + pd.Series(code).astype(str) + " upstream failed"
    noise = "debug heartbeat seq=" + pd.Series(rng.integers(0, 10**6, n)).astype(str)
    line = np.where(kind == "access", access, np.where(kind == "error", error, noise))
    return pd.DataFrame(
        {
            "source": src,
            "line": line,
            "ts": pd.to_datetime(ts, unit="s"),
            "kind": kind,
            "ms": np.where(kind == "access", ms, 0),
        }
    )


def lines_oracle(lines: pd.DataFrame, window_s: int) -> pd.DataFrame:
    """Expected per-(source, metric, window) cnt/sum of the rule points."""
    acc = lines[lines["kind"] == "access"]
    err = lines[lines["kind"] == "error"]
    frames = [
        acc.assign(metric="requests", v=1),
        acc.assign(metric="latency", v=acc["ms"]),
        err.assign(metric="errors", v=1),
    ]
    pts = pd.concat(frames, ignore_index=True)
    pts["window_start"] = pts["ts"].dt.floor(f"{window_s}s")
    return (
        pts.groupby(["source", "metric", "window_start"])["v"]
        .agg(cnt="count", sum="sum")
        .reset_index()
    )


# ------------------------------------------------------------------ curate


def gen_docs(n_docs: int, seed: int, sample_rate: float) -> tuple[pd.DataFrame, int]:
    """Documents with planted duplicates, and the count ``curate`` must keep.

    85% are distinct random-word texts (ids 0..B-1).  The rest copy a
    random base text: 5% verbatim, 10% with the last word replaced (word
    3-gram Jaccard ~0.97 to the base, so far above both the LSH band
    threshold and the 0.6 verify cut).  Dedup keeps the lowest id of each
    group, i.e. every base doc and nothing else; the md5 id sample then
    keeps the ids whose first four hex digits fall under the rate.
    """
    rng = np.random.default_rng([seed, n_docs])
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = np.array(
        ["".join(rng.choice(letters, rng.integers(3, 9))) for _ in range(4000)],
        dtype=object,
    )
    n_base = int(n_docs * 0.85)
    n_exact = int(n_docs * 0.05)
    n_near = n_docs - n_base - n_exact
    texts = []
    for _ in range(n_base):
        words = vocab[rng.integers(0, len(vocab), rng.integers(80, 160))]
        texts.append(" ".join(words))
    for _ in range(n_exact):
        texts.append(texts[rng.integers(0, n_base)])
    for _ in range(n_near):
        words = texts[rng.integers(0, n_base)].split(" ")
        new = words[-1]
        while new == words[-1]:
            new = vocab[rng.integers(0, len(vocab))]
        texts.append(" ".join(words[:-1] + [new]))
    docs = pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "source": np.array(["src0", "src1", "src2"], dtype=object)[
                rng.integers(0, 3, n_docs)
            ],
        }
    )
    cutoff = format(min(int(sample_rate * 16**4), 16**4 - 1), "04x")
    kept = sum(
        hashlib.md5(str(i).encode()).hexdigest()[:4] < cutoff for i in range(n_base)
    )
    return docs, kept
