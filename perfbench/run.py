"""Benchmark of the transcripts entity-resolution engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Generates the workload input from the
seed (untimed), warms a local Spark session sized to the machine,
times the public entry points for at least `--seconds`, checks the
outputs and prints one JSON object as the last stdout line:

  --trace 0  end-to-end metrics (BENCHMARK.json `end_to_end`)
  --trace 1  per-layer metrics (BENCHMARK.json `per_layer`), from a
             separate traced pass: stage timings and stage DataFrame
             row counts returned by run_pipeline(profile=True), Spark's
             event log, /proc and the catalog directory on disk.

Maintenance: `--record-fixtures [--seeds 0-49]` re-records the input
fingerprints in perfbench/fixtures.json; `--size tiny` is the smoke
test size (perfbench/test_smoke.py).
"""

from __future__ import annotations

import time

T_PROCESS = time.time()  # setup_s counts from here

import argparse  # noqa: E402
import fcntl  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from statistics import median  # noqa: E402
from pathlib import Path  # noqa: E402

from probes import (  # noqa: E402
    EVENTLOG_UNITS,
    children,
    disk_delta,
    disk_snapshot,
    peak_rss_mb,
    read_event_log,
    window_stats,
)

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
CONTEXT_DIM = 64  # the accuracy mode of run_pipeline's context disambiguation

# metric name → unit; the per-layer map is filled with zeros for layers
# a workload does not run, so every traced run reports every name
END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "turns_per_s": "turns/s",
}
# metric-name prefix of each traced time window (see README.md)
EVENTLOG_LAYERS = (
    "functions.mentions.",
    "plans.pipeline.",
    "operators.blocking.",
    "operators.scoring.",
    "operators.clustering.",
    "operators.context_disambig.",
    "streaming.incremental_er.ingest_",
    "operators.clustering.recluster_",
)
PER_LAYER = {
    "functions.mentions.stage_s": "s",
    "functions.mentions.turns_in": "count",
    "functions.mentions.mentions_out": "count",
    "plans.pipeline.vocab_s": "s",
    "plans.pipeline.surfaces": "count",
    "plans.pipeline.norms": "count",
    "plans.pipeline.assign_s": "s",
    "operators.blocking.keys_s": "s",
    "operators.blocking.key_rows": "count",
    "operators.blocking.max_block_rows": "count",
    "operators.blocking.pairs_s": "s",
    "operators.blocking.candidate_pairs": "count",
    "operators.blocking.pairs_per_norm": "ratio",
    "operators.scoring.stage_s": "s",
    "operators.scoring.pairs_per_s": "pairs/s",
    "operators.scoring.matches": "count",
    "operators.scoring.match_ratio": "ratio",
    "operators.clustering.stage_s": "s",
    "operators.clustering.edges": "count",
    "operators.clustering.components": "count",
    "operators.clustering.largest_component_share": "ratio",
    "operators.clustering.pairwise_f1_min": "ratio",
    "operators.clustering.recluster_s": "s",
    "operators.context_disambig.assign_s": "s",
    "operators.context_disambig.ambiguous_surfaces": "count",
    "operators.context_disambig.pairwise_f1_min": "ratio",
    "streaming.incremental_er.ingest_s": "s",
    "streaming.incremental_er.new_norms": "count",
    "streaming.incremental_er.pairs_appended": "count",
    "streaming.incremental_er.components_vs_batch": "ratio",
    "sources.catalog.bytes_written_mb": "MB",
    "sources.catalog.files_written": "count",
    "sources.catalog.bytes_live_mb": "MB",
    "sources.catalog.bytes_stored_per_input_byte": "ratio",
    **{
        f"{prefix}{field}": unit
        for prefix in EVENTLOG_LAYERS
        for field, unit in EVENTLOG_UNITS.items()
    },
    "driver.peak_rss_mb": "MB",
    "tracing.overhead_s": "s",
}


def log(msg: str) -> None:
    print(f"[perfbench {time.time() - T_PROCESS:7.1f}s] {msg}", file=sys.stderr, flush=True)


# --------------------------------------------------------------------------
# session
# --------------------------------------------------------------------------


def _driver_memory() -> str:
    """A quarter of physical RAM, 1-8 GiB: the session default (24g)
    does not fit small machines."""
    with open("/proc/meminfo", encoding="utf-8") as fh:
        total_kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    return f"{max(1, min(8, total_kb // (4 * 1024 * 1024)))}g"


def make_session(event_log: Path | None):
    from tempel_spark import get_spark

    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(WORK / "spark-local"),
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Duser.timezone=UTC -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.eventLog.enabled": "false",
    }
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log.as_uri(),
            "spark.eventLog.compress": "false",
        })
    return get_spark(
        "perfbench", cpus=len(os.sched_getaffinity(0)), driver_memory=_driver_memory(), extra_conf=conf
    )


def stop_session(spark) -> None:
    """Stop Spark, then the gateway JVM, and wait until every process
    this run started (JVM, Python workers) has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 60
    while children().get(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)


def unpersist_all(spark, frames: dict) -> None:
    """Drop every cached stage of a pipeline run, so the next timed run
    starts from the same state."""
    from pyspark.sql import DataFrame

    for df in frames.values():
        if isinstance(df, DataFrame):
            df.unpersist()
    spark.catalog.clearCache()
    gc.collect()


# --------------------------------------------------------------------------
# shared checks
# --------------------------------------------------------------------------


def pairwise_f1_min(components, mentions, gold) -> float:
    """Minimum over snapshots of pairwise F1 against the hidden gold."""
    from tempel_spark.operators.metrics import pairwise_f1

    g = mentions.select("snapshot_ts", "mention_id", "conv_id", "turn_idx").join(
        gold, ["conv_id", "turn_idx"]
    )
    f1 = pairwise_f1(
        components.withColumnRenamed("mention_id", "node"),
        g.select(g.mention_id.alias("node"), "gold_entity_id", "snapshot_ts"),
        group_cols=["snapshot_ts"],
    )
    return min(float(r["f1"]) for r in f1.collect())


def partition_hash(df, cols: list[str]) -> str:
    from pyspark.sql import functions as F

    h = F.xxhash64(*[F.col(c).cast("string") for c in cols]).cast("decimal(38,0)")
    return str(df.agg(F.sum(h)).collect()[0][0] or 0)


# --------------------------------------------------------------------------
# batch workloads: plans.pipeline.run_pipeline
# --------------------------------------------------------------------------


def batch_once(spark, inp: dict, profile: bool = False, context_dim: int = 0):
    """One timed call. Returns (wall seconds, call start epoch, result
    frames, census row)."""
    from pyspark.sql import functions as F

    from tempel_spark.plans.pipeline import run_pipeline
    from workloads import SNAPSHOTS

    table = spark.read.parquet(*inp["table"])
    t_call = time.time()
    t0 = time.perf_counter()
    res = run_pipeline(spark, table, snapshots=SNAPSHOTS, profile=profile, context_dim=context_dim)
    census = res["components"].agg(
        F.count(F.lit(1)).alias("n"), F.countDistinct("component").alias("c")
    ).collect()[0]
    return time.perf_counter() - t0, t_call, res, census


def batch_check(res, census) -> tuple:
    """Outputs that must repeat exactly from run to run, plus the
    invariant that every mention gets exactly one component."""
    n_mentions = res["mentions"].count()
    if census["n"] != n_mentions:
        raise AssertionError(f"{census['n']} assigned rows for {n_mentions} mentions")
    return (
        n_mentions,
        res["pairs"].count(),
        census["c"],
        partition_hash(res["components"], ["snapshot_ts", "mention_id", "component"]),
    )


def run_batch(spark, wl, inp: dict, seconds: float) -> dict:
    """Timed runs after one untimed warm-up run on the same input. The
    warm-up is charged to setup_s (`load_s`) and its outputs are the
    reference the timed runs must repeat."""
    from pyspark.sql import functions as F

    load_s, _, res, census = batch_once(spark, inp)
    first = batch_check(res, census)
    unpersist_all(spark, res)
    log(f"{wl.name} warm-up: {load_s:.3f}s counts={first}")
    walls, attempted, failed = [], 0, 0
    t_start = time.perf_counter()
    while attempted == 0 or time.perf_counter() - t_start < seconds:
        attempted += 1
        res = None
        try:
            wall, _, res, census = batch_once(spark, inp)
            counts = batch_check(res, census)  # after the timer stops
            if counts != first:
                raise AssertionError(f"outputs changed between runs: {counts} != {first}")
            walls.append(wall)
            log(f"{wl.name} run {attempted}: {wall:.3f}s counts={counts}")
        except Exception as exc:  # noqa: BLE001 - a failed run counts, the loop goes on
            failed += 1
            log(f"{wl.name} run {attempted} FAILED: {exc!r}")
        finally:
            if res is not None:
                unpersist_all(spark, res)
    turns = spark.read.parquet(*inp["table"]).agg(F.count(F.lit(1))).collect()[0][0]
    return {"walls": walls, "attempted": attempted, "failed": failed, "turns": turns, "load_s": load_s}


def trace_batch(spark, wl, inp: dict, untraced_wall: float, size_name: str, seed: int) -> tuple[dict, list]:
    """Traced pass: run_pipeline(profile=True) materialises each stage
    in order, so its timings give the stage windows, and the cached
    stage frames give the row counts."""
    from pyspark.sql import functions as F

    from tempel_spark.operators.context_disambig import ambiguous_candidates
    from tempel_spark.operators.scoring import abbreviation_edges

    wall, t_call, res, _ = batch_once(spark, inp, profile=True)
    tm = res["timings"]
    windows, t = [], t_call
    prefix = {
        "mentions": "functions.mentions.", "surfaces": "plans.pipeline.", "norms": "plans.pipeline.",
        "blocks": "operators.blocking.", "pairs": "operators.blocking.", "scored": "operators.scoring.",
        "surface_components": "operators.clustering.", "components": "plans.pipeline.",
    }
    for stage in prefix:
        windows.append((prefix[stage], t, t + tm[stage]))
        t += tm[stage]

    n_pairs = res["pairs"].count()
    n_norms = res["norms"].count()
    scored = res["scored"]
    matches = scored.filter(F.col("is_match")).count()
    relevant = scored.filter(F.col("is_match") | F.col("is_partial"))
    abbr = abbreviation_edges(
        relevant, text_a="norm_a", text_b="norm_b", prenormalized=True,
        freq_a="n_mentions_a", freq_b="n_mentions_b",
    ).count()
    comp = res["components"]
    per_snap = comp.groupBy("snapshot_ts").agg(F.count(F.lit(1)).alias("n"))
    biggest = comp.groupBy("snapshot_ts", "component").agg(F.count(F.lit(1)).alias("k")).groupBy(
        "snapshot_ts"
    ).agg(F.max("k").alias("k"))
    share = per_snap.join(biggest, "snapshot_ts").agg(F.max(F.col("k") / F.col("n"))).collect()[0][0]
    blocks = res["blocks"]
    m = {
        "functions.mentions.stage_s": tm["mentions"],
        "functions.mentions.turns_in": spark.read.parquet(*inp["table"]).count(),
        "functions.mentions.mentions_out": res["mentions"].count(),
        "plans.pipeline.vocab_s": tm["surfaces"] + tm["norms"],
        "plans.pipeline.surfaces": res["surfaces"].count(),
        "plans.pipeline.norms": n_norms,
        "plans.pipeline.assign_s": tm["components"],
        "operators.blocking.keys_s": tm["blocks"],
        "operators.blocking.key_rows": blocks.count(),
        "operators.blocking.max_block_rows": blocks.groupBy("snapshot_ts", "block_key").count()
        .agg(F.max("count")).collect()[0][0],
        "operators.blocking.pairs_s": tm["pairs"],
        "operators.blocking.candidate_pairs": n_pairs,
        "operators.blocking.pairs_per_norm": n_pairs / max(n_norms, 1),
        "operators.scoring.stage_s": tm["scored"],
        "operators.scoring.pairs_per_s": n_pairs / max(tm["scored"], 1e-9),
        "operators.scoring.matches": matches,
        "operators.scoring.match_ratio": matches / max(n_pairs, 1),
        "operators.clustering.stage_s": tm["surface_components"],
        "operators.clustering.edges": matches + abbr,
        "operators.clustering.components": res["surface_components"]
        .select("snapshot_ts", "component").distinct().count(),
        "operators.clustering.largest_component_share": float(share),
        "operators.clustering.pairwise_f1_min": pairwise_f1_min(
            comp, res["mentions"], spark.read.parquet(inp["gold"])
        ),
        "tracing.overhead_s": wall - untraced_wall,
    }
    unpersist_all(spark, res)

    if wl.context is not None:
        # context disambiguation costs minutes on this vocabulary-heavy
        # corpus, so it is traced on its own small mention-heavy input
        import corpus

        cinp = corpus.prepare(spark, wl.context, size_name, seed, WORK, corpus.load_fixtures())
        _, t_call, res, _ = batch_once(spark, cinp, profile=True, context_dim=CONTEXT_DIM)
        tm = res["timings"]
        start = t_call + sum(v for k, v in tm.items() if k != "components")
        windows.append(("operators.context_disambig.", start, start + tm["components"]))
        m.update({
            "operators.context_disambig.assign_s": tm["components"],
            "operators.context_disambig.ambiguous_surfaces": ambiguous_candidates(res["scored"])
            .select("snapshot_ts", "surface").distinct().count(),
            "operators.context_disambig.pairwise_f1_min": pairwise_f1_min(
                res["components"], res["mentions"], spark.read.parquet(cinp["gold"])
            ),
        })
        unpersist_all(spark, res)
    return m, windows


# --------------------------------------------------------------------------
# incremental workload: stream_incremental_er + recluster per wave
# --------------------------------------------------------------------------


def batch_reference(spark, inp: dict, full: bool) -> dict:
    """Untimed reference on the whole incremental corpus: the batch
    `norms` table (the same two pivots as
    run_pipeline, from its public mention extractor) and, when `full`
    (traced runs), the batch pipeline's scored pairs and component
    count."""
    from pyspark.sql import functions as F

    from tempel_spark.operators.blocking import norm_key
    from tempel_spark.plans.pipeline import extract_mention_table, run_pipeline
    from workloads import SNAPSHOTS

    table = spark.read.parquet(*inp["table"])
    norms = (
        extract_mention_table(table, SNAPSHOTS)
        .groupBy("snapshot_ts", "surface").agg(F.count(F.lit(1)).alias("n_mentions"))
        .withColumn("norm", norm_key("surface"))
        .groupBy("snapshot_ts", "norm").agg(F.sum("n_mentions").alias("n_mentions"))
    ).localCheckpoint(eager=True)
    ref = {"norms": norms.count(), "norms_hash": partition_hash(norms, ["snapshot_ts", "norm", "n_mentions"])}
    if full:
        res = run_pipeline(spark, table, snapshots=SNAPSHOTS)
        ref["pairs"] = str(inp["base"] / "batch_pairs")
        res["scored"].select("snapshot_ts", "id_a", "id_b", "is_match").write.mode("overwrite").parquet(
            ref["pairs"]
        )
        ref["components"] = res["surface_components"].select("snapshot_ts", "component").distinct().count()
        unpersist_all(spark, res)
    return ref


def incremental_once(spark, inp: dict, rep_dir: Path, traced: bool = False) -> dict:
    """Land the waves one after another into a fresh landing, catalog
    and checkpoint directory; ingest and recluster each. Wave 0 is the
    initial load, the rest are the timed frontier waves. Returns the
    per-wave times, outputs and (traced) time windows and disk deltas."""
    from pyspark.sql import functions as F

    from corpus import land
    from tempel_spark.sources.catalog import Catalog
    from tempel_spark.streaming.incremental_er import read_scored_pairs, recluster, stream_incremental_er
    from workloads import SNAPSHOTS

    shutil.rmtree(rep_dir, ignore_errors=True)
    landing, cat_dir, ckpt = rep_dir / "landing", rep_dir / "catalog", rep_dir / "checkpoint"
    cat_dir.mkdir(parents=True)
    cat = Catalog(spark, str(cat_dir))
    sc = spark.sparkContext
    out = {"ingest": [], "recluster": [], "waves": [], "windows": [], "landed": 0,
           "written_b": 0, "files": 0, "log_rows": [], "error": None, "catalog": cat, "cat_dir": cat_dir}
    for w, wave_dir in enumerate(inp["waves"]):
        out["landed"] += land(wave_dir, landing, w)
        before = disk_snapshot(cat_dir) if traced else None
        try:
            if traced:
                sc.setJobDescription(f"perfbench ingest wave {w}")
            t0, p0 = time.time(), time.perf_counter()
            stream_incremental_er(
                spark, str(landing), cat, snapshots=SNAPSHOTS, checkpoint_dir=str(ckpt)
            ).awaitTermination()
            t1, p1 = time.time(), time.perf_counter()
            if traced:
                sc.setJobDescription(f"perfbench recluster wave {w}")
            census = recluster(spark, cat, warm=True).agg(
                F.count(F.lit(1)).alias("n"),
                F.countDistinct("snapshot_ts", "component").alias("c"),
            ).collect()[0]
            t2, p2 = time.time(), time.perf_counter()
        except Exception as exc:  # noqa: BLE001 - reported as a failed wave
            out["error"] = f"wave {w}: {exc!r}"
            return out
        finally:
            if traced:
                sc.setJobDescription(None)
        out["ingest"].append(p1 - p0)
        out["recluster"].append(p2 - p1)
        if w > 0:
            out["windows"] += [("streaming.incremental_er.ingest_", t0, t1),
                               ("operators.clustering.recluster_", t1, t2)]
            if traced:
                b, f = disk_delta(before, disk_snapshot(cat_dir))
                out["written_b"] += b
                out["files"] += f
        if traced:
            try:
                out["log_rows"].append(read_scored_pairs(spark, cat).count())
            except FileNotFoundError:  # no pair-producing batch yet
                out["log_rows"].append(0)
        n_vocab = cat.read("stream_norms").count()
        if census["n"] != n_vocab:
            out["error"] = f"wave {w}: {census['n']} components rows for {n_vocab} norms"
            return out
        out["waves"].append((n_vocab, census["c"]))
    return out


def incremental_final_check(spark, out: dict, ref: dict) -> None:
    """After the last wave, the parity contract of
    streaming.incremental_er: the vocabulary equals the batch norm table
    (counts included) and, in traced runs, every batch scored pair is in
    the pair log with the same match decision. The log may hold more
    pairs (insert-time sorted-neighbourhood pairs), so the component
    count may be lower than batch; it is reported, not required equal."""
    from tempel_spark.streaming.incremental_er import read_scored_pairs

    vocab = out["catalog"].read("stream_norms")
    got = (vocab.count(), partition_hash(vocab, ["snapshot_ts", "norm", "n_mentions"]))
    if got != (ref["norms"], ref["norms_hash"]):
        raise AssertionError(f"stream vocabulary {got} != batch norms {ref}")
    if "pairs" not in ref:
        return
    keys = ["snapshot_ts", "id_a", "id_b", "is_match"]
    missing = spark.read.parquet(ref["pairs"]).join(
        read_scored_pairs(spark, out["catalog"]).select(*keys), keys, "left_anti"
    ).count()
    if missing:
        raise AssertionError(f"{missing} batch scored pairs missing from the stream pair log")


def run_incremental(spark, wl, inp: dict, seconds: float, traced: bool) -> dict:
    """Timed runs of the frontier waves. The first run's initial load
    (wave 0, ingest + recluster) is the session warm-up: it is charged
    to setup_s and returned as `load_s`."""
    from pyspark.sql import functions as F

    ref = batch_reference(spark, inp, full=traced)
    walls, ingest, recl, attempted, failed, first, rep, load_s = [], [], [], 0, 0, None, 0, 0.0
    t_start = time.perf_counter()
    while rep == 0 or time.perf_counter() - t_start < seconds:
        out = incremental_once(spark, inp, WORK / "incremental" / f"rep{rep}")
        if rep == 0 and out["ingest"]:
            load_s = out["ingest"][0] + out["recluster"][0]
            t_start += load_s
        rep += 1
        attempted += wl.waves - 1
        try:
            if out["error"]:
                raise AssertionError(out["error"])
            incremental_final_check(spark, out, ref)
            if first is None:
                first = out["waves"]
            elif out["waves"] != first:
                raise AssertionError(f"per-wave outputs changed between runs: {out['waves']} != {first}")
        except Exception as exc:  # noqa: BLE001 - a failed run counts, the loop goes on
            failed += wl.waves - 1
            log(f"{wl.name} run {rep} FAILED: {exc}")
            continue
        walls.append(sum(out["ingest"][1:]) + sum(out["recluster"][1:]))
        ingest += out["ingest"][1:]
        recl += out["recluster"][1:]
        log(f"{wl.name} run {rep}: ingest={out['ingest']} recluster={out['recluster']} waves={out['waves']}")
    turns = spark.read.parquet(*inp["waves"][1:]).agg(F.count(F.lit(1))).collect()[0][0]
    return {"walls": walls, "ingest": ingest, "recluster": recl, "attempted": attempted,
            "failed": failed, "turns": turns, "ref": ref, "load_s": load_s}


def trace_incremental(spark, wl, inp: dict, result: dict) -> tuple[dict, list]:
    """Traced pass: a fresh initial load, then the frontier wave(s) inside
    ingest/recluster time windows with catalog disk deltas."""
    out = incremental_once(spark, inp, WORK / "incremental" / "traced", traced=True)
    if out["error"]:
        raise RuntimeError(f"traced incremental run failed: {out['error']}")
    # the journal logs every batch; wave 0 lands in an empty vocabulary,
    # so all its norms are new and the frontier's are the remainder
    new_norms = -out["waves"][0][0]
    with open(out["cat_dir"] / "_lineage.jsonl", encoding="utf-8") as fh:
        for line in fh:
            rec = json.loads(line)
            if rec.get("table", "").startswith("metrics::stream_er_batch_"):
                new_norms += rec.get("n_new_norms", 0)
    live = sum(size for size, _ in disk_snapshot(out["cat_dir"]).values())
    m = {
        "streaming.incremental_er.ingest_s": median(result["ingest"]),
        "streaming.incremental_er.new_norms": new_norms,
        "streaming.incremental_er.pairs_appended": out["log_rows"][-1] - out["log_rows"][0],
        "streaming.incremental_er.components_vs_batch": out["waves"][-1][1] / result["ref"]["components"],
        "operators.clustering.recluster_s": median(result["recluster"]),
        "sources.catalog.bytes_written_mb": out["written_b"] / (1024 * 1024),
        "sources.catalog.files_written": out["files"],
        "sources.catalog.bytes_live_mb": live / (1024 * 1024),
        "sources.catalog.bytes_stored_per_input_byte": live / max(out["landed"], 1),
        "tracing.overhead_s": sum(out["ingest"][1:]) + sum(out["recluster"][1:]) - median(result["walls"]),
    }
    return m, out["windows"]


# --------------------------------------------------------------------------
# main
# --------------------------------------------------------------------------


def _parse_seeds(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def main(argv: list[str] | None = None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    ap.add_argument("--record-fixtures", action="store_true")
    ap.add_argument("--seeds", default="0-49", help="with --record-fixtures")
    args = ap.parse_args(argv)
    if not args.record_fixtures and not args.workload:
        ap.error("--workload is required")

    if not (ROOT / "tempel_spark" / "__init__.py").is_file():
        print(f"perfbench: no tempel_spark package under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2

    WORK.mkdir(exist_ok=True)
    lock = open(WORK / "lock", "w")  # noqa: SIM115 - held for the whole run
    try:
        fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except BlockingIOError:
        print("perfbench: another benchmark run holds the lock; workloads never run together",
              file=sys.stderr)
        return 3

    # Python workers import tempel_spark too: give them the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")  # else it overrides spark.local.dir
    # the launcher JVM of spark-submit would write /tmp/hsperfdata_<user>
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    sys.path.insert(0, str(ROOT))

    import corpus

    if args.record_fixtures:
        spark = make_session(None)
        try:
            corpus.record(spark, list(WORKLOADS.values()), _parse_seeds(args.seeds), WORK)
        finally:
            stop_session(spark)
            shutil.rmtree(WORK / "inputs", ignore_errors=True)
        return 0

    wl = WORKLOADS[args.workload]
    event_log = None
    if args.trace:
        event_log = WORK / "eventlog" / f"run-{os.getpid()}"
        shutil.rmtree(event_log, ignore_errors=True)
    spark = make_session(event_log)
    try:
        # set-up = session start + the workload's untimed warm-up run on
        # its own input (batch: one run_pipeline; incremental: the
        # initial-load wave), added below; input generation is excluded
        setup_s = time.time() - T_PROCESS

        fixtures = corpus.load_fixtures()
        inp = corpus.prepare(spark, wl, args.size, args.seed, WORK, fixtures)
        log(f"input {inp['fp']}")

        if wl.waves:
            result = run_incremental(spark, wl, inp, args.seconds, bool(args.trace))
        else:
            result = run_batch(spark, wl, inp, args.seconds)
        if not result["walls"]:
            log("every timed run failed")
            return 1
        setup_s += result["load_s"]
        rss = peak_rss_mb(os.getpid())
        wall = median(result["walls"])
        e2e = {
            "setup_s": setup_s,
            "wall_s": wall,
            "turns_per_s": result["turns"] / wall,
        }
        log(f"{wl.name}: {len(result['walls'])} timed runs, {e2e}, peak_rss_mb={rss:.0f}")

        if args.trace:
            if wl.waves:
                layer, windows = trace_incremental(spark, wl, inp, result)
            else:
                layer, windows = trace_batch(spark, wl, inp, wall, args.size, args.seed)
            layer["driver.peak_rss_mb"] = rss
    finally:
        stop_session(spark)
        # per-run data: inputs, catalogs and scratch are regenerated by the next run
        for d in ("inputs", "incremental", "spark-local", "tmp"):
            shutil.rmtree(WORK / d, ignore_errors=True)

    if args.trace:
        jobs, stages = read_event_log(event_log)
        shutil.rmtree(event_log, ignore_errors=True)
        for prefix, stats in window_stats(jobs, stages, windows).items():
            for field, value in stats.items():
                layer[prefix + field] = value
        metrics = {k: {"value": float(layer.get(k, 0.0)), "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
