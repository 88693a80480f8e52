"""The three workloads, each a closed loop through ``samsa_spark``'s public
API: a new operation starts only after the previous one returns.

- ``stream_ingest``: a keyed event log drains through
  ``StatefulStream.run_available_now`` (RocksDB provider, one file per
  trigger) into state plus a parquet changelog. Nothing is read.
- ``state_serve``: set-up builds a state from a many-key log in a few big
  triggers; the timed part restarts on a small tail, rebuilds the state
  from the changelog, scans it, and serves point lookups.
- ``corpus_prep``: ``prep_pipeline`` and the dedup ladder (exact ->
  MinHash-LSH -> prefix-filtered Jaccard) over corpus segments, then the
  survivors go to ``write_shards`` and one epoch is read back.

Each workload function runs set-up, the timed region and the checks, and
returns a :class:`Result`. Checks run outside the timed region.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import time
from dataclasses import dataclass, field
from pathlib import Path

import checks
import gen
from checks import Ledger
from tracing import Tracer

EVENTS_DDL = (
    "user_id BIGINT, ts_us BIGINT, event_id BIGINT, event_type STRING, value DOUBLE, props STRING"
)

# The sf0.1 events table's key universe: user ids 0..1499, each with 45-99
# of its 100k events, which is a uniform spread (Zipf fit s = 0.11).
EVENTS_KEYS = 1_500
# YCSB's Zipf constant (its "zipfian" request distribution).
YCSB_ZIPF_S = 0.99

# Input sizes and shapes, per workload; METRICS.md gives the source of each.
# The time estimates turn --seconds into a fixed amount of work before
# timing starts (4-core host, unmodified code): a run's work depends only
# on --seconds and --seed, never on how fast it goes.
PARAMS = {
    "stream_ingest": {
        "events_per_file": 200,
        "key_universe": EVENTS_KEYS,
        "zipf_s": YCSB_ZIPF_S,
        "out_of_order_share": 0.1,
        "warmup_files": 3,
        "trigger_s_estimate": 0.95,
        "min_triggers": 12,
    },
    "state_serve": {
        "build_files": 2,
        "build_events_per_file": 1_500,
        "tail_events": 300,
        "key_universe": EVENTS_KEYS,
        "zipf_s": 0.0,
        "out_of_order_share": 0.1,
        "warmup_lookups": 10,
        "lookups_per_round": 6,
        "round_s_estimate": 3.3,
        "min_rounds": 3,
    },
    "corpus_prep": {
        "n_docs": 1_000,
        "exact_dup_share": 0.05,
        "light_dup_share": 0.08,
        "heavy_dup_share": 0.07,
        "heavy_sub_share": 0.12,
        "pass_s_estimate": 4.8,
        "min_passes": 3,
        "fuzzy_min_est_jaccard": 0.8,
        "lsh_min_est_jaccard": 0.8,
        "prefix_min_jaccard": 0.5,
    },
}


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    tmp: Path
    seed: int
    seconds: float
    ledger: Ledger = field(default_factory=Ledger)
    inputs: dict = field(default_factory=dict)


@dataclass
class Result:
    setup_end: float  # perf_counter at the end of set-up
    end_to_end: dict  # generic end-to-end metrics, see BENCHMARK.json
    named: dict  # the workload's own metrics: name -> (value, unit)
    layers: dict  # per-layer metrics this workload exercises
    detail: dict = field(default_factory=dict)


# -- helpers ----------------------------------------------------------------


def noop(df) -> None:
    """Materialize every column of ``df`` (never ``count()``, which lets
    the optimizer prune the work away)."""
    df.write.format("noop").mode("overwrite").save()


def du(path: Path) -> int:
    return sum(p.stat().st_size for p in Path(path).rglob("*") if p.is_file())


def free_persistent(spark) -> None:
    """Unpersist every persistent RDD, operator-internal checkpoints
    included, so one phase's blocks do not crowd the next."""
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(False)


def tail_stat(values: list[float]) -> dict | None:
    """The highest percentile with at least ten samples beyond it, with its
    sample count; None when there are fewer than eleven samples."""
    xs = sorted(values)
    k = len(xs) - 10
    if k < 1:
        return None
    return {"value": xs[k - 1], "percentile": math.floor(100 * k / len(xs)), "n": len(xs)}


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _events_schema():
    from pyspark.sql.types import StructType

    return StructType.fromDDL(EVENTS_DDL)


def drain(ctx: Ctx, log_dir: Path, chk: Path, cl: Path, name: str, per_file: bool = True):
    """One ``run_available_now`` over ``log_dir`` (one file per trigger when
    ``per_file``), timed as span ``name``. Returns the span and the query's
    progress reports."""
    from samsa_spark.streaming import StatefulStream, file_stream

    ss = StatefulStream(ctx.spark)
    src = file_stream(
        ctx.spark, str(log_dir), _events_schema(), max_files_per_trigger=1 if per_file else None
    )
    with ctx.ledger.op(name), ctx.tracer.span(name) as sp:
        q = ss.run_available_now(src, str(chk), str(cl))
    progress = [json.loads(p.json) for p in q.recentProgress]
    ctx.tracer.count(f"{name}.triggers", len(progress))
    ctx.tracer.count(f"{name}.input_rows", sum(p["numInputRows"] for p in progress))
    if ctx.tracer.enabled:
        # Micro-batches run on the query's own thread, in a job group named
        # after its run id.
        sp.groups.append(str(q.runId))
    return sp, progress


def _op(p: dict, key: str, default=0):
    ops = p.get("stateOperators") or [{}]
    return ops[0].get(key, default)


def _custom(p: dict, key: str) -> float:
    return _op(p, "customMetrics", {}).get(key, 0)


def stream_layers(progress: list[dict], chk: Path, cl: Path) -> tuple[dict, dict]:
    """Per-layer streaming metrics from a query's progress reports, and the
    bases of its ratios."""

    def dur(phase: str) -> list[int]:
        return [p["durationMs"].get(phase, 0) for p in progress]

    te, ab = dur("triggerExecution"), dur("addBatch")
    commit = [_op(p, "commitTimeMs") for p in progress]
    hits = sum(_custom(p, "rocksdbReadBlockCacheHitCount") for p in progress)
    misses = sum(_custom(p, "rocksdbReadBlockCacheMissCount") for p in progress)
    tail = tail_stat(commit)
    n = max(len(progress), 1)
    last = progress[-1] if progress else {}
    layers = {
        "sources.latest_offset_ms_p50": _median(dur("latestOffset")),
        "sources.get_batch_ms_p50": _median(dur("getBatch")),
        "state_stream.add_batch_ms_p50": _median(ab),
        "state_stream.all_updates_ms_per_batch": sum(_op(p, "allUpdatesTimeMs") for p in progress) / n,
        "state_stream.rows_updated_per_batch": sum(_op(p, "numRowsUpdated") for p in progress) / n,
        "state_stream.commit_ms_p50": _median(commit),
        "state_stream.commit_ms_tail": tail["value"] if tail else max(commit, default=0),
        "state_stream.changelog_commit_ms_p50": _median(
            [_custom(p, "rocksdbChangeLogWriterCommitLatencyMs") for p in progress]
        ),
        "state_stream.file_sync_ms_p50": _median(
            [_custom(p, "rocksdbCommitFileSyncLatencyMs") for p in progress]
        ),
        "state_stream.snapshot_upload_ms": sum(
            _custom(p, "rocksdbSaveZipFilesLatencyMs") for p in progress
        ),
        "state_stream.planning_ms_p50": _median(dur("queryPlanning")),
        "state_stream.wal_commit_ms_p50": _median(dur("walCommit")),
        "state_stream.commit_offsets_ms_p50": _median(dur("commitOffsets")),
        "state_stream.coord_share": (sum(te) - sum(ab)) / sum(te) if sum(te) else 0.0,
        "state_stream.state_rows": _op(last, "numRowsTotal"),
        "state_stream.memory_bytes": _op(last, "memoryUsedBytes"),
        "state_stream.rocksdb_bytes_written": sum(
            _custom(p, "rocksdbTotalBytesWritten") for p in progress
        ),
        "state_stream.block_cache_hit_ratio": hits / (hits + misses) if hits + misses else 0.0,
        "state_stream.checkpoint_bytes": du(chk),
        "state_stream.changelog_bytes": du(cl),
    }
    bases = {
        "state_stream.coord_share": {"trigger_execution_ms": sum(te), "triggers": len(te)},
        "state_stream.block_cache_hit_ratio": {"hits_plus_misses": hits + misses},
        "state_stream.commit_ms_tail": tail or {"value": max(commit, default=0), "n": len(commit)},
    }
    return layers, bases


def _lww_check(ledger: Ledger, name: str, got, want) -> None:
    mism = checks.state_mismatches(got, want)
    ledger.record(name, not mism, "; ".join(mism))


# -- stream_ingest ----------------------------------------------------------


def stream_ingest(ctx: Ctx) -> Result:
    from samsa_spark.streaming import read_state

    P = PARAMS["stream_ingest"]
    n_files = max(P["min_triggers"], round(ctx.seconds / P["trigger_s_estimate"]))
    spec = gen.LogSpec(
        n_files, P["events_per_file"], P["key_universe"], P["zipf_s"], P["out_of_order_share"]
    )
    warm = gen.LogSpec(
        P["warmup_files"], P["events_per_file"], P["key_universe"], P["zipf_s"], P["out_of_order_share"]
    )
    log, chk, cl = ctx.tmp / "log", ctx.tmp / "chk", ctx.tmp / "changelog"
    with ctx.tracer.span("setup.generate"):
        ctx.inputs["log"] = gen.write_log(spec, ctx.seed, 2, log)
        ctx.inputs["warmup_log"] = gen.write_log(warm, ctx.seed, 1, ctx.tmp / "warm_log")
    with ctx.tracer.span("setup.warmup"):
        drain(ctx, ctx.tmp / "warm_log", ctx.tmp / "warm_chk", ctx.tmp / "warm_cl", "warmup.drain")
        free_persistent(ctx.spark)
    setup_end = time.perf_counter()

    sp, progress = drain(ctx, log, chk, cl, "state_stream.run_available_now")

    events = ctx.inputs["log"]["rows"]
    stored = du(chk) + du(cl)
    ctx.ledger.record(
        "one_trigger_per_file", len(progress) == n_files, f"{len(progress)} triggers, {n_files} files"
    )
    want = checks.lww_oracle(gen.read_log(log))
    _lww_check(ctx.ledger, "state_equals_oracle", read_state(ctx.spark, str(chk)).toPandas(), want)

    te = [p["durationMs"].get("triggerExecution", 0) for p in progress]
    layers, bases = stream_layers(progress, chk, cl)
    return Result(
        setup_end,
        {
            "items_per_s": events / sp.seconds,
            "op_ms_p50": _median(te),
            "stored_bytes_per_item": stored / events,
        },
        {
            "ingest_events_per_s": (events / sp.seconds, "events/s"),
            "batch_ms_p50": (_median(te), "ms"),
            "batch_ms_tail": (tail_stat(te), "ms"),
            "stored_bytes_per_event": (stored / events, "bytes"),
        },
        layers,
        {"bases": bases, "triggers": len(te), "drain_s": sp.seconds, "state_keys": len(want)},
    )


# -- state_serve ------------------------------------------------------------


def _serve_round(ctx: Ctx, log: Path, chk: Path, cl: Path, keys) -> dict:
    """One rebalance-and-serve round: restart on the tail that just landed,
    rebuild from the changelog, scan, then point lookups."""
    from samsa_spark.api import StateTable
    from samsa_spark.streaming import read_state
    from samsa_spark.streaming.state_stream import replay_changelog

    spark, tr, led = ctx.spark, ctx.tracer, ctx.ledger
    with tr.span("state_stream.serve_round") as rnd:
        restart, progress = drain(ctx, log, chk, cl, "state_stream.restart")
        with led.op("replay_changelog"), tr.span("state_stream.replay_changelog") as replay:
            noop(replay_changelog(spark, str(cl), "user_id"))
        with led.op("read_state"), tr.span("state_stream.read_state") as scan:
            noop(read_state(spark, str(chk)))
        answers = []
        for k in keys:
            with led.op(f"get({k})"), tr.span("api.get") as g:
                row = StateTable(read_state(spark, str(chk))).get(int(k))
            tr.count("api.get.hits", row is not None)
            answers.append((int(k), row, g.seconds * 1e3))
    return {
        "seconds": rnd.seconds,
        "restart_s": restart.seconds,
        "replay_s": replay.seconds,
        "scan_s": scan.seconds,
        "progress": progress,
        "answers": answers,
    }


def state_serve(ctx: Ctx) -> Result:
    from samsa_spark.api import StateTable
    from samsa_spark.streaming import read_state
    from samsa_spark.streaming.state_stream import replay_changelog

    P = PARAMS["state_serve"]
    spark = ctx.spark
    shape = (P["key_universe"], P["zipf_s"], P["out_of_order_share"])
    build = gen.LogSpec(P["build_files"], P["build_events_per_file"], *shape)
    tail = gen.LogSpec(1, P["tail_events"], *shape)
    k_round = P["lookups_per_round"]
    n_rounds = max(P["min_rounds"], round(ctx.seconds / P["round_s_estimate"]))
    log, chk, cl = ctx.tmp / "log", ctx.tmp / "chk", ctx.tmp / "changelog"
    staging = ctx.tmp / "tail_staging"
    with ctx.tracer.span("setup.generate"):
        ctx.inputs["build_log"] = gen.write_log(build, ctx.seed, 2, log)
        first_event = ctx.inputs["build_log"]["rows"]
        ctx.inputs["rounds"] = n_rounds
        ctx.inputs["tail_logs"] = []
        for r in range(n_rounds):
            info = gen.write_log(
                tail, ctx.seed, 2, staging / str(r), first_file=build.n_files + r, first_event=first_event
            )
            ctx.inputs["tail_logs"].append(info)
            first_event += info["rows"]
        keys = gen.lookup_keys(
            ctx.seed, P["warmup_lookups"] + n_rounds * k_round, P["key_universe"], P["zipf_s"]
        )
    # The build is also the streaming path's warm-up; the read paths warm
    # up on the state it leaves, which they only read.
    _, build_progress = drain(ctx, log, chk, cl, "setup.state_build")
    with ctx.tracer.span("setup.warmup"):
        noop(replay_changelog(spark, str(cl), "user_id"))
        noop(read_state(spark, str(chk)))
        # Lookups are driver-bound: warm the JIT past its first compiles.
        for k in keys[: P["warmup_lookups"]]:
            StateTable(read_state(spark, str(chk))).get(int(k))
        free_persistent(spark)
    setup_end = time.perf_counter()

    rounds = []
    for r in range(n_rounds):
        (tail_file,) = (staging / str(r)).iterdir()
        os.replace(tail_file, log / tail_file.name)  # the tail lands atomically
        lo = P["warmup_lookups"] + r * k_round
        rounds.append(_serve_round(ctx, log, chk, cl, keys[lo : lo + k_round]))
    timed_s = sum(rnd["seconds"] for rnd in rounds)

    # Checks. Round r's lookups saw the build plus the first r + 1 tails.
    full = gen.read_log(log)
    build_rows = ctx.inputs["build_log"]["rows"]
    lat, hits = [], 0
    for r, rnd in enumerate(rounds):
        seen = build_rows + sum(t["rows"] for t in ctx.inputs["tail_logs"][: r + 1])
        by_key = checks.lww_oracle(full[full.event_id < seen]).set_index("user_id", drop=False)
        for k, row, ms in rnd["answers"]:
            hits += row is not None
            lat.append(ms)
            ctx.ledger.record(f"round {r} lookup {k}", checks.lookup_ok(row, by_key, k), f"got {row}")
    want = checks.lww_oracle(full)
    restarted = read_state(spark, str(chk)).toPandas()
    _lww_check(ctx.ledger, "restart_equals_oracle", restarted, want)
    _lww_check(
        ctx.ledger, "replay_equals_restart", replay_changelog(spark, str(cl), "user_id").toPandas(), restarted
    )
    one_chk = ctx.tmp / "uninterrupted_chk"
    drain(ctx, log, one_chk, ctx.tmp / "uninterrupted_cl", "check.uninterrupted_drain", per_file=False)
    _lww_check(
        ctx.ledger, "restart_equals_uninterrupted", read_state(spark, str(one_chk)).toPandas(), restarted
    )

    progress = [p for rnd in rounds for p in rnd["progress"]]
    firsts = [rnd["progress"][0] for rnd in rounds if rnd["progress"]]

    def per_round(key: str) -> float:
        return _median([rnd[key] for rnd in rounds])

    layers, bases = stream_layers(progress, chk, cl)
    layers.update(
        {
            "state_stream.restart_load_ms": _median([_custom(p, "rocksdbLoadLatencyMs") for p in firsts]),
            "state_stream.restart_replayed_files": _median(
                [_custom(p, "rocksdbNumReplayChangelogFiles") for p in firsts]
            ),
            "state_stream.restart_first_batch_ms": _median(
                [p["durationMs"].get("triggerExecution", 0) for p in firsts]
            ),
            "state_stream.replay_changelog_s": per_round("replay_s"),
            "state_stream.read_state_s": per_round("scan_s"),
        }
    )
    events = len(full)
    round_ms = [rnd["seconds"] * 1e3 for rnd in rounds]
    return Result(
        setup_end,
        {
            "items_per_s": n_rounds * (3 + k_round) / timed_s,
            "op_ms_p50": _median(round_ms),
            "stored_bytes_per_item": (du(chk) + du(cl)) / events,
        },
        {
            "round_ms_p50": (_median(round_ms), "ms"),
            "restart_s": (per_round("restart_s"), "s"),
            "replay_s": (per_round("replay_s"), "s"),
            "scan_s": (per_round("scan_s"), "s"),
            "lookup_ms_p50": (_median(lat), "ms"),
            "lookup_ms_tail": (tail_stat(lat), "ms"),
        },
        layers,
        {
            "bases": bases,
            "rounds": n_rounds,
            "lookups": len(lat),
            "lookup_hits": hits,
            "lookup_miss_share": 1 - hits / len(lat),
            "state_keys": len(want),
            "build_trigger_ms": [p["durationMs"].get("triggerExecution", 0) for p in build_progress],
            "timed_s": timed_s,
        },
    )


# -- corpus_prep ------------------------------------------------------------


def _prep_pass(ctx: Ctx, seg: Path, shards: Path, texts: dict[int, str], check: bool) -> dict:
    """One pass of the corpus-prep path over one segment; every stage is
    timed as its own span under a ``corpus_prep.pass`` span."""
    import pyspark.sql.functions as F

    from samsa_spark.operators.dedup import exact_dedup, minhash_lsh_pairs, prefix_jaccard_pairs
    from samsa_spark.operators.pipeline_ops import prep_pipeline, read_shards_shuffled, write_shards

    P = PARAMS["corpus_prep"]
    spark, tr, led = ctx.spark, ctx.tracer, ctx.ledger
    docs = spark.read.parquet(str(seg))
    with tr.span("corpus_prep.pass") as whole:
        with led.op("prep_pipeline"), tr.span("pipeline_ops.prep_pipeline"):
            noop(prep_pipeline(docs, fuzzy_min_est_jaccard=P["fuzzy_min_est_jaccard"]))
        # Each rung's output is cached while it is materialized, so the next
        # rung and the checks read it instead of recomputing it.
        with led.op("exact_dedup"), tr.span("dedup.exact_dedup"):
            ex = exact_dedup(docs).persist()
            noop(ex)
        s1 = docs.join(ex.where(~F.col("is_dup")).select("doc_id"), "doc_id", "left_semi")
        with led.op("minhash_lsh_pairs"), tr.span("dedup.minhash_lsh_pairs"):
            mh = minhash_lsh_pairs(s1, min_est_jaccard=P["lsh_min_est_jaccard"]).persist()
            noop(mh)
        s2 = s1.join(mh.select(F.col("doc_b").alias("doc_id")), "doc_id", "left_anti")
        with led.op("prefix_jaccard_pairs"), tr.span("dedup.prefix_jaccard_pairs"):
            pj = prefix_jaccard_pairs(s2, min_jaccard=P["prefix_min_jaccard"]).persist()
            noop(pj)
        s3 = s2.join(pj.select(F.col("doc_b").alias("doc_id")), "doc_id", "left_anti")
        with led.op("write_shards"), tr.span("pipeline_ops.write_shards"):
            write_shards(s3, str(shards))
        with led.op("read_shards_shuffled"), tr.span("pipeline_ops.read_shards_shuffled"):
            noop(read_shards_shuffled(spark, str(shards), seed=ctx.seed))

    out = {"seconds": whole.seconds, "docs": len(texts), "shard_bytes": du(shards)}
    if check:
        ex_pd = ex.select("doc_id", "is_dup").toPandas()
        survivors = int((~ex_pd.is_dup).sum())
        want = len(set(texts.values()))
        led.record("exact_survivors", survivors == want, f"{survivors} survivors, {want} distinct texts")
        pairs = pj.toPandas()
        bad = checks.bad_pairs(pairs, texts, P["prefix_min_jaccard"])
        led.record("prefix_pairs_jaccard", not bad, "; ".join(bad))
        written = s3.select("doc_id").toPandas().doc_id.tolist()
        read = read_shards_shuffled(spark, str(shards), seed=ctx.seed).select("doc_id")
        miss = checks.id_set_mismatch(read.toPandas().doc_id.tolist(), written)
        led.record("epoch_reads_written_ids", not miss, miss)
        out.update(
            exact_dups=len(ex_pd) - survivors,
            lsh_pairs=mh.count(),
            prefix_pairs=len(pairs),
            survivors=len(written),
        )
        for k in ("docs", "exact_dups", "lsh_pairs", "prefix_pairs", "survivors"):
            tr.count(f"corpus_prep.{k}", out[k])
    free_persistent(spark)
    return out


def corpus_prep(ctx: Ctx) -> Result:
    P = PARAMS["corpus_prep"]
    spec = gen.CorpusSpec(
        P["n_docs"], P["exact_dup_share"], P["light_dup_share"], P["heavy_dup_share"], P["heavy_sub_share"]
    )
    n_passes = max(P["min_passes"], round(ctx.seconds / P["pass_s_estimate"]))
    segs = [ctx.tmp / f"corpus/seg{i}" for i in range(n_passes)]
    with ctx.tracer.span("setup.generate"):
        ctx.inputs["passes"] = n_passes
        ctx.inputs["warmup_corpus"] = gen.write_corpus(spec, ctx.seed, 0, ctx.tmp / "corpus/warm")
        ctx.inputs["segments"] = [
            gen.write_corpus(spec, ctx.seed, i + 1, d, first_doc=(i + 1) * 1_000_000)
            for i, d in enumerate(segs)
        ]
    with ctx.tracer.span("setup.warmup"):
        _prep_pass(ctx, ctx.tmp / "corpus/warm", ctx.tmp / "shards/warm", {}, check=False)
    setup_end = time.perf_counter()

    passes = [
        _prep_pass(ctx, seg, ctx.tmp / f"shards/p{i}", gen.read_texts(seg), check=True)
        for i, seg in enumerate(segs)
    ]
    timed_s = sum(p["seconds"] for p in passes)

    docs = sum(p["docs"] for p in passes)
    survivors = sum(p["survivors"] for p in passes)
    tr = ctx.tracer
    layers = {
        f"{name}_s": _median([sp.seconds for sp in tr.named(name)])
        for name in (
            "pipeline_ops.prep_pipeline",
            "pipeline_ops.write_shards",
            "pipeline_ops.read_shards_shuffled",
            "dedup.exact_dedup",
            "dedup.minhash_lsh_pairs",
            "dedup.prefix_jaccard_pairs",
        )
    }
    n = len(passes)
    layers.update(
        {
            "dedup.exact_dedup.dups_out": sum(p["exact_dups"] for p in passes) / n,
            "dedup.minhash_lsh_pairs.pairs_out": sum(p["lsh_pairs"] for p in passes) / n,
            "dedup.prefix_jaccard_pairs.pairs_out": sum(p["prefix_pairs"] for p in passes) / n,
            "dedup.survivor_ratio": survivors / docs,
        }
    )
    pass_ms = [p["seconds"] * 1e3 for p in passes]
    bytes_per_doc = _median([p["shard_bytes"] / p["survivors"] for p in passes])
    return Result(
        setup_end,
        {"items_per_s": docs / timed_s, "op_ms_p50": _median(pass_ms), "stored_bytes_per_item": bytes_per_doc},
        {"prep_docs_per_s": (docs / timed_s, "docs/s")},
        layers,
        {
            "bases": {"dedup.survivor_ratio": {"docs_in": docs, "survivors": survivors}},
            "passes": passes,
            "timed_s": timed_s,
        },
    )


WORKLOADS = {
    "stream_ingest": stream_ingest,
    "state_serve": state_serve,
    "corpus_prep": corpus_prep,
}
