"""Incremental (delta-style) pipeline runs: process only NEW weeks.

The reference reprocesses all 18 weekly files every run
(src/data_processing/cleaning/tracking.py:467,
src/core/settings.py:57-58). Weekly partitions are independent by
construction — the reference's own loop proves it — so at 100 TB the
only sane run shape is: detect which week partitions are new, clean
JUST those, and append them to the week-partitioned outputs.

Mechanics (plain parquet, no table-format dependency):

- **Progress tracking** is the materialized layout itself: a week is
  "done" iff its ``week=N`` partition directory exists in the cleaned
  tracking output. No side manifest that can drift from the data.
- **Idempotent writes** use dynamic partition overwrite
  (``partitionOverwriteMode=dynamic``): re-running a week REPLACES its
  partition instead of duplicating rows — the plain-parquet equivalent
  of Delta's ``replaceWhere``. A week that failed mid-write is simply
  re-run.
- **The players dimension** grows append-only: only ids never seen
  before are added, so existing dim rows are stable across runs.
- **Scores** land week-partitioned; only new TEST weeks are featurized
  and scored (train weeks never produce scores, matching the
  reference's scores.csv which holds test plays only).

The model is an input, not a product: train once on a full run (or
whenever the train-week range changes), then score increments with it.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..ml.model import LogisticModel
from .cleaning import (
    clean_plays,
    clean_tracking,
    create_players_dim,
    filter_plays_with_tracking,
)
from .run import score_frames
from .scores import compute_scores

_TRACKING_BEFORE = "tracking_before_cleaned"
_TRACKING_AFTER = "tracking_after_cleaned"
_PLAYS = "plays_final_by_week"
_PLAYERS = "players"
_SCORES = "scores_by_week"


@dataclass(frozen=True)
class IncrementalRun:
    """Summary of one incremental invocation."""

    new_weeks: tuple[int, ...]
    scored_weeks: tuple[int, ...]
    n_new_players: int


def processed_weeks(workdir: str) -> set[int]:
    """Weeks already materialized, read from the hive partition layout
    (a directory listing — no data scan; on object stores this is one
    LIST call on the table prefix)."""
    root = os.path.join(workdir, _TRACKING_BEFORE)
    if not os.path.isdir(root):
        return set()
    weeks: set[int] = set()
    for name in os.listdir(root):
        m = re.fullmatch(r"week=(\d+)", name)
        if m:
            weeks.add(int(m.group(1)))
    return weeks


def _write_week_partitions(df: DataFrame, path: str, sort_cols: list[str] | None = None) -> None:
    """Week-partitioned parquet write that replaces exactly the
    partitions present in ``df`` (dynamic partition overwrite)."""
    if sort_cols:
        df = df.sortWithinPartitions(*sort_cols)
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("week")
        .parquet(path)
    )


def run_incremental(
    spark: SparkSession,
    raw_before: DataFrame,
    raw_after: DataFrame,
    raw_plays: DataFrame,
    workdir: str,
    model: LogisticModel,
    train_weeks: int = 9,
) -> IncrementalRun:
    """Clean + score only the weeks not yet materialized under
    ``workdir``. Returns a no-op summary when nothing is new.

    The new-week probe aggregates the raw input's ``week`` column; on a
    week-partitioned source that distinct collapses to partition
    listing (partition pruning leaves no row scan behind it).
    """
    have = processed_weeks(workdir)
    input_weeks = {
        r["week"] for r in raw_before.select("week").distinct().collect()
    }
    new_weeks = sorted(input_weeks - have)
    if not new_weeks:
        return IncrementalRun(new_weeks=(), scored_weeks=(), n_new_players=0)

    nb = raw_before.where(F.col("week").isin(new_weeks))
    na = raw_after.where(F.col("week").isin(new_weeks))
    np_ = raw_plays.where(F.col("week").isin(new_weeks))

    # Players dim: append ONLY never-seen ids so existing rows stay
    # byte-stable (dimension append-only growth, never rewritten).
    players_path = os.path.join(workdir, _PLAYERS)
    fresh_players = create_players_dim(nb)
    if os.path.isdir(players_path):
        existing = spark.read.parquet(players_path)
        to_add = fresh_players.join(existing, "nfl_id", "left_anti")
        n_new_players = to_add.count()
        if n_new_players:
            to_add.write.mode("append").parquet(players_path)
    else:
        fresh_players.write.mode("overwrite").parquet(players_path)
        n_new_players = fresh_players.count()
    players = spark.read.parquet(players_path)

    # Clean the new weeks only — the same stage operators as the full
    # run; weekly independence makes the restriction exact.
    cleaned_plays = clean_plays(np_, nb)
    before_clean, after_clean = clean_tracking(nb, na, cleaned_plays, np_, players)
    _write_week_partitions(
        before_clean,
        os.path.join(workdir, _TRACKING_BEFORE),
        sort_cols=["game_id", "play_id", "frame_id"],
    )
    _write_week_partitions(
        after_clean,
        os.path.join(workdir, _TRACKING_AFTER),
        sort_cols=["game_id", "play_id", "frame_id"],
    )
    before_clean = spark.read.parquet(os.path.join(workdir, _TRACKING_BEFORE)).where(
        F.col("week").isin(new_weeks)
    )

    final_plays = filter_plays_with_tracking(cleaned_plays, before_clean)
    _write_week_partitions(final_plays, os.path.join(workdir, _PLAYS))

    # Score the new TEST weeks (train weeks produce no scores).
    scored_weeks = [w for w in new_weeks if w > train_weeks]
    if scored_weeks:
        test_before = before_clean.where(F.col("week").isin(scored_weeks))
        test_plays = final_plays.where(F.col("week").isin(scored_weeks))
        results = score_frames(test_before, test_plays, model)
        scores = compute_scores(results).join(
            F.broadcast(test_plays.select("game_id", "play_id", "week")),
            ["game_id", "play_id"],
            "inner",
        )
        _write_week_partitions(scores, os.path.join(workdir, _SCORES))

    return IncrementalRun(
        new_weeks=tuple(new_weeks),
        scored_weeks=tuple(scored_weeks),
        n_new_players=int(n_new_players),
    )


def read_scores(spark: SparkSession, workdir: str) -> DataFrame:
    """All scores accumulated across incremental runs."""
    return spark.read.parquet(os.path.join(workdir, _SCORES))
