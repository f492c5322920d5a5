"""The benchmark's workloads: what each one generates and why.

Every corpus comes from `tempel_spark.synth.synth_transcripts` with the
run's seed. `full` is the size the benchmark measures; `tiny` is the
smoke-test size. README.md records each workload's stage split and the
layer metrics that should move it.
"""

from __future__ import annotations

from dataclasses import dataclass

# four yearly cut points over the synthesiser's three-year span
SNAPSHOTS = [f"{y}-01-01 00:00:00" for y in (2013, 2014, 2015, 2016)]


@dataclass(frozen=True)
class Size:
    n_convs: int
    n_entities: int
    n_snapshots: int = 3


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    sizes: dict[str, Size]
    # 0: batch (plans.pipeline.run_pipeline). Otherwise incremental: the
    # parquet waves landed one after another; wave 0 is the initial load
    # (set-up), the others are timed
    waves: int = 0
    # batch: input of the extra traced pass with context disambiguation
    # on, which measures operators.context_disambig (see README.md)
    context: Workload | None = None


# mention-heavy: few entities, so the context stage, not blocking, is
# what the traced context pass measures
CONTEXT_INPUT = Workload(
    name="context_probe",
    why="traced input of operators.context_disambig",
    sizes={"full": Size(n_convs=500, n_entities=64), "tiny": Size(n_convs=40, n_entities=12)},
)


WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in [
        Workload(
            name="batch_vocab",
                    why=(
                "vocabulary-heavy batch (5000 Zipf entities, most past the 1024 md5-token "
                "threshold): blocking, scoring and clustering do most of the work"
            ),
            sizes={"full": Size(n_convs=2000, n_entities=5000), "tiny": Size(n_convs=60, n_entities=1100)},
            context=CONTEXT_INPUT,
        ),
        Workload(
            name="incremental_waves",
            why=(
                "mid-vocabulary corpus (500 entities): an initial-load wave, then a timed "
                "frontier wave ingested by stream_incremental_er and reclustered warm"
            ),
            sizes={"full": Size(n_convs=2000, n_entities=500), "tiny": Size(n_convs=60, n_entities=40)},
            waves=2,
        ),
    ]
}
