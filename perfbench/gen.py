"""Seeded input generators for the lifecycle benchmark.

Everything here is a pure function of its spec and seed: the same seed
writes byte-identical parquet files, a different seed writes different
ones (perfbench/tests/test_gen.py). Nothing here imports Spark; the
program under test receives only the files.

Two kinds of input:

- keyed event logs with the ``events`` table's columns (``user_id``,
  ``ts_us``, ``event_id``, ``event_type``, ``value``, ``props``), one
  parquet file per intended micro-batch. Keys are Zipf-skewed over a key
  universe; a share of events carries an order older than the running
  clock, so its key's high-water mark often already beats it (the fold's
  no-op path).
- document corpora in the shape of the sf0.1 ``documents`` table
  (``doc_id``, ``text``, ``lang``, ``source``, ``n_chars``): the same
  30-word vocabulary, 10-100 tokens per document, the same language and
  source mix. Exact copies and near-duplicates are planted at fixed
  shares; near-duplicates follow the soak10x replica-token rule (the copy
  gains a ``rep<r>`` token), and the heavier ones also have some tokens
  substituted.
"""

from __future__ import annotations

import os
from dataclasses import asdict, dataclass
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_SCHEMA = pa.schema(
    [
        ("user_id", pa.int64()),
        ("ts_us", pa.int64()),
        ("event_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)
DOC_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)

EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
# The sf0.1 documents table's vocabulary and language mix.
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
N_SOURCES = 20

T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z, the events table's start
STEP_US = 1_000  # clock advance per event


@dataclass(frozen=True)
class LogSpec:
    """A keyed event log of ``n_files`` files of ``events_per_file`` rows."""

    n_files: int
    events_per_file: int
    key_universe: int
    zipf_s: float
    out_of_order_share: float
    # How far back an out-of-order event may reach, in files (triggers).
    max_lag_files: int = 8


@dataclass(frozen=True)
class CorpusSpec:
    n_docs: int
    exact_dup_share: float
    light_dup_share: float  # replica token appended only
    heavy_dup_share: float  # replica token plus substituted tokens
    heavy_sub_share: float = 0.12  # tokens substituted in a heavy near-dup


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


def _write(table: pa.Table, path: Path, mtime: int) -> int:
    pq.write_table(table, path, compression="snappy")
    # The file source orders new files by modification time; pin it so the
    # i-th file is the i-th micro-batch on every run.
    os.utime(path, (mtime, mtime))
    return path.stat().st_size


def key_ids(seed: int, universe: int) -> np.ndarray:
    """Rank -> key id map: a seeded permutation, so hot keys are scattered
    over the id space. Every draw for one seed and universe (event logs and
    lookups alike) shares it, so the same keys are hot everywhere."""
    return _rng(seed, 7, universe).permutation(universe).astype(np.int64)


def zipf_keys(
    rng: np.random.Generator, n: int, universe: int, s: float, ids: np.ndarray
) -> np.ndarray:
    """``n`` keys drawn with P(rank r) proportional to r**-s over
    ``universe`` ranks, mapped to key ids through ``ids``."""
    weights = np.arange(1, universe + 1, dtype=np.float64) ** -s
    cdf = np.cumsum(weights)
    ranks = np.searchsorted(cdf, rng.random(n) * cdf[-1], side="right")
    return ids[np.minimum(ranks, universe - 1)]


def write_log(
    spec: LogSpec,
    seed: int,
    stream: int,
    out_dir: str | os.PathLike,
    first_file: int = 0,
    first_event: int = 0,
) -> dict:
    """Write files ``first_file .. first_file + n_files - 1`` of one log.

    ``stream`` separates independent logs drawn from one seed (warm-up,
    timed drain, tail segments). ``first_file``/``first_event`` continue an
    existing log: event ids stay globally unique and the clock keeps
    running, so a tail segment is newer than the log it extends.
    Returns the log's rows, bytes and parameters.
    """
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    rng = _rng(seed, stream, first_file)
    n = spec.n_files * spec.events_per_file
    gidx = first_event + np.arange(n, dtype=np.int64)
    ts = T0_US + gidx * STEP_US + rng.integers(0, STEP_US, n)
    late = rng.random(n) < spec.out_of_order_share
    lag = rng.integers(1, spec.max_lag_files * spec.events_per_file + 1, n) * STEP_US
    ts = np.where(late, ts - lag, ts)
    cols = {
        "user_id": zipf_keys(
            rng, n, spec.key_universe, spec.zipf_s, key_ids(seed, spec.key_universe)
        ),
        "ts_us": ts.astype(np.int64),
        "event_id": gidx,
        "event_type": np.asarray(EVENT_TYPES, dtype=object)[rng.integers(0, len(EVENT_TYPES), n)],
        "value": np.round(rng.gamma(2.0, 40.0, n), 2),
        "props": np.asarray([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], dtype=object),
    }
    table = pa.table(cols, schema=EVENT_SCHEMA)
    n_bytes = 0
    for i in range(spec.n_files):
        f = first_file + i
        part = table.slice(i * spec.events_per_file, spec.events_per_file)
        n_bytes += _write(part, out / f"part-{f:05d}.parquet", mtime=1_700_000_000 + f)
    return {
        **asdict(spec),
        "rows": n,
        "bytes": n_bytes,
        "late_rows": int(late.sum()),
        "distinct_keys": int(np.unique(cols["user_id"]).size),
    }


def lookup_keys(seed: int, n: int, universe: int, s: float) -> np.ndarray:
    """Point-lookup keys: the log's skew over the same key ids. A key of
    the universe that the log has not written yet is a miss."""
    return zipf_keys(_rng(seed, 99), n, universe, s, key_ids(seed, universe))


def read_log(path: str | os.PathLike):
    """The whole log as one pandas frame (the oracles' input)."""
    return pq.read_table(str(path), schema=EVENT_SCHEMA).to_pandas()


def _words(rng: np.random.Generator) -> list[str]:
    return list(np.asarray(VOCAB, dtype=object)[rng.integers(0, len(VOCAB), rng.integers(10, 101))])


def write_corpus(
    spec: CorpusSpec, seed: int, stream: int, out_dir: str | os.PathLike, first_doc: int = 0
) -> dict:
    """Write one corpus segment as a single parquet file under ``out_dir``.
    Copies always point at an earlier document of the same segment, so the
    lowest doc_id of every duplicate family is its original."""
    rng = _rng(seed, 1000 + stream)
    texts: list[str] = []
    kind = rng.random(spec.n_docs)
    c_exact = spec.exact_dup_share
    c_light = c_exact + spec.light_dup_share
    c_heavy = c_light + spec.heavy_dup_share
    for i in range(spec.n_docs):
        if i == 0 or kind[i] >= c_heavy:
            texts.append(" ".join(_words(rng)))
            continue
        base = texts[int(rng.integers(0, i))]
        if kind[i] < c_exact:
            texts.append(base)
            continue
        toks = base.split(" ")
        if kind[i] >= c_light:
            n_sub = max(1, int(round(spec.heavy_sub_share * len(toks))))
            for j in rng.choice(len(toks), size=min(n_sub, len(toks)), replace=False):
                toks[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        toks.append(f"rep{first_doc + i}")
        texts.append(" ".join(toks))
    ids = first_doc + np.arange(spec.n_docs, dtype=np.int64)
    table = pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": np.asarray(LANGS, dtype=object)[rng.choice(len(LANGS), spec.n_docs, p=LANG_P)],
            "source": [f"src{i % N_SOURCES}" for i in ids],
            "n_chars": np.asarray([len(t) for t in texts], dtype=np.int64),
        },
        schema=DOC_SCHEMA,
    )
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    n_bytes = _write(table, out / "docs.parquet", mtime=1_700_000_000)
    return {
        **asdict(spec),
        "rows": table.num_rows,
        "bytes": n_bytes,
        "distinct_texts": len(set(texts)),
    }


def read_texts(seg_dir: str | os.PathLike) -> dict[int, str]:
    """doc_id -> text of a written corpus segment (the checks' input)."""
    t = pq.read_table(Path(seg_dir) / "docs.parquet", columns=["doc_id", "text"])
    return dict(zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()))
