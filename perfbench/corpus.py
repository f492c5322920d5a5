"""Input generation, done once per run before any timing. The program
only ever sees the parquet table written here; the hidden gold labels
go to a separate table used for F1.

Each generated table is fingerprinted (row count + order-free content
hash). `fixtures.json` records the fingerprints of every recorded seed
and of a small seed-0 canary per workload; a mismatch means
`tempel_spark/synth.py` changed what a workload is, and the run stops.
"""

from __future__ import annotations

import json
import os
import shutil
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tempel_spark.synth import synth_transcripts
from workloads import Size, Workload

FIXTURES = Path(__file__).with_name("fixtures.json")
CANARY_CONVS = 25


class GeneratorDrift(RuntimeError):
    """The synthesiser no longer produces a recorded workload input."""


def fingerprint(df: DataFrame) -> dict:
    """Row count + sum of per-row xxhash64 (order-independent)."""
    h = F.xxhash64(*[F.col(c) for c in df.columns]).cast("decimal(38,0)")
    row = df.agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("h")).collect()[0]
    return {"rows": int(row["n"]), "hash": str(row["h"] or 0)}


def _synth(spark: SparkSession, size: Size, seed: int) -> DataFrame:
    return synth_transcripts(
        spark, n_convs=size.n_convs, n_entities=size.n_entities,
        n_snapshots=size.n_snapshots, seed=seed, with_gold=True,
    )


def _canary(spark: SparkSession, wl: Workload) -> dict:
    """Seed 0, 25 conversations, the workload's entity count."""
    size = Size(n_convs=CANARY_CONVS, n_entities=wl.sizes["full"].n_entities)
    return fingerprint(_synth(spark, size, seed=0).drop("gold_entity_id", "surface"))


def load_fixtures() -> dict:
    if FIXTURES.exists():
        return json.loads(FIXTURES.read_text())
    return {}


def check_canary(spark: SparkSession, wl: Workload, fixtures: dict) -> None:
    """Regenerate the seed-0 canary and compare it with the record, so
    drift shows on seeds that have no record of their own."""
    want = fixtures.get("canary", {}).get(wl.name)
    got = _canary(spark, wl)
    if want is not None and want != got:
        raise GeneratorDrift(
            f"synth_transcripts drifted: {wl.name} canary {got} != recorded {want}; "
            "re-record with `python3 perfbench/run.py --record-fixtures` only if the "
            "workload change is intended"
        )


def prepare(spark: SparkSession, wl: Workload, size_name: str, seed: int, work: Path, fixtures: dict) -> dict:
    """Write the workload input and return its paths: `table` (the
    program input, a list of parquet dirs), `gold` (batch only: conv_id,
    turn_idx, gold_entity_id), `waves` (incremental only: one parquet
    dir per wave; together they are the table) and the fingerprint `fp`.
    Regenerated by every run, so the work done before the timed region
    is the same whether or not a seed ran before."""
    base = work / "inputs" / f"{wl.name}-{size_name}-s{seed}"
    shutil.rmtree(base, ignore_errors=True)
    full = _synth(spark, wl.sizes[size_name], seed)
    transcripts = full.drop("gold_entity_id", "surface")
    waves = [str(base / f"wave{w}") for w in range(wl.waves)]
    for w, path in enumerate(waves):
        transcripts.filter(F.pmod(F.crc32("conv_id"), F.lit(wl.waves)) == w).write.parquet(path)
    if not waves:
        transcripts.write.parquet(str(base / "table"))
        full.select("conv_id", "turn_idx", "gold_entity_id").write.parquet(str(base / "gold"))
    table = waves or [str(base / "table")]
    fp = fingerprint(spark.read.parquet(*table))
    want = fixtures.get(size_name, {}).get(wl.name, {}).get(str(seed))
    if want is None:
        check_canary(spark, wl, fixtures)  # an unrecorded seed: the canary guards the generator
    elif want != fp:
        raise GeneratorDrift(f"{wl.name} seed {seed} input {fp} != recorded {want}")
    return {"table": table, "gold": str(base / "gold"), "waves": waves, "fp": fp, "base": base}


def land(wave_dir: str, landing: Path, wave: int) -> int:
    """Copy one wave's parquet files into the landing directory (hidden
    name first, then rename, so a file never appears half-written).
    Returns the bytes landed."""
    landing.mkdir(parents=True, exist_ok=True)
    landed = 0
    for src in sorted(Path(wave_dir).glob("*.parquet")):
        tmp = landing / f".w{wave}-{src.name}"
        shutil.copyfile(src, tmp)
        landed += tmp.stat().st_size
        os.replace(tmp, landing / f"w{wave}-{src.name}")
    return landed


def record(spark: SparkSession, workloads: list[Workload], seeds: list[int], work: Path) -> None:
    """Fingerprint the canaries and every (workload, seed) full input."""
    fixtures = load_fixtures()
    fixtures.setdefault("canary", {})
    for wl in workloads:
        fixtures["canary"][wl.name] = _canary(spark, wl)
        per_seed = fixtures.setdefault("full", {}).setdefault(wl.name, {})
        for seed in seeds:
            per_seed[str(seed)] = prepare(spark, wl, "full", seed, work, {})["fp"]
    FIXTURES.write_text(json.dumps(fixtures, indent=1, sort_keys=True) + "\n")
