"""The benchmark's workloads: input shape and the program path each drives.

Sizes are set so that one run (two JVM start-ups, two cold runs, warm-up and
the timed runs) fits the benchmark's time budget on a 4-core host; the
paths and mixes, not the sizes, are what each workload is chosen for.
"""

from __future__ import annotations

from dataclasses import dataclass

from gen import Mix

KILLS = frozenset({"kills"})
ALL_OPS = frozenset(
    {"kills", "means_of_death", "player_resolutions", "reported_scores"}
)

# datagen.py's 12-line match block in proportion: about 2/3 of the lines
# are markers and kills, which the kills summary consumes
REFERENCE_MIX = Mix(kill=0.85, item=0.05, say=0.04, comment=0.03, begin=0.03)
# every player-resolution event kind, so the replay fold takes each branch
JOB_MIX = Mix(
    kill=0.6, item=0.12, say=0.1, comment=0.05, begin=0.05,
    rename=0.04, reconnect=0.04,
)


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    path: str  # "summaries": summarize_matches(...).collect(); "job": jobs/run_pipeline.py
    ops: frozenset[str]
    turns: int
    convs: int
    mix: Mix
    hot_share: float
    malformed_share: float
    warmup: int  # fewest warm-up runs after the cold run, before timing
    min_timed: int  # fewest timed runs, whatever --seconds says


WORKLOADS = {
    w.name: w
    for w in [
        Workload(
            "kills_uniform",
            "headline JVM path: early discard, narrow expr parse, one window "
            "shuffle, two-level aggregate; no Python, no writes",
            "summaries", KILLS, 100_000, 100, REFERENCE_MIX, 0.0, 0.005, 9, 7,
        ),
        Workload(
            "nightly_job",
            "the job's non-resume path: Arrow parse, five-sink write, "
            "replay fold, summaries write, one conversation with 1/4 of turns",
            "job", ALL_OPS, 50_000, 20, JOB_MIX, 0.25, 0.005, 2, 3,
        ),
    ]
}
