"""End-to-end pipeline runner: the reference's five entry points
(clean -> datasets -> train -> infer -> score, README.md:43-136) as
one orchestrated flow with parquet materialization between stages.

Stage boundaries are real writes (week-partitioned parquet), matching
both the reference's CSV hand-offs and what a 100 TB run needs anyway:
restartability, lineage truncation, and partition-pruned downstream
reads (a week-range predicate prunes files instead of scanning 18
weeks to keep 9).

The pre-throw frames are read twice: once into the per-player
``player_plays`` stage, which the players dim, the cleaned plays and
tracking cleaning's carry and three-roles test read in their place,
and once for the cleaned pre-throw rows themselves.
"""

from __future__ import annotations

import os
from collections.abc import Sequence
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..ml.inference import score_dataframe
from ..ml.model import LogisticModel
from ..ml.train import FEATURE_COLS, grid_search
from ..sources.writers import write_parquet
from .cleaning import (
    clean_plays,
    clean_tracking,
    create_players_dim,
    filter_plays_with_tracking,
    player_plays,
)
from .features import build_features, train_test_split_by_week
from .scores import compute_scores


@dataclass
class PipelineResult:
    players: DataFrame
    cleaned_plays: DataFrame
    before_clean: DataFrame
    after_clean: DataFrame
    train: DataFrame
    test: DataFrame
    model: LogisticModel
    scores: DataFrame


def _stage(
    spark: SparkSession,
    df: DataFrame,
    workdir: str,
    name: str,
    partition_by: Sequence[str] = (),
    sort_within_partitions: Sequence[str] | None = None,
) -> DataFrame:
    """Write ``df`` as the parquet stage ``name`` under ``workdir`` and
    reread it. The reread carries the schema just written, laid out as
    a parquet read lays it out (partition columns last, every field
    nullable), so it runs no schema-inference job."""
    path = os.path.join(workdir, name)
    write_parquet(df, path, partition_by, sort_within_partitions)
    fields = [f for f in df.schema if f.name not in partition_by]
    fields += [df.schema[c] for c in partition_by]
    schema = T.StructType([T.StructField(f.name, f.dataType) for f in fields])
    return spark.read.schema(schema).parquet(path)


def score_frames(
    tracking: DataFrame, plays: DataFrame, model: LogisticModel
) -> DataFrame:
    """Per-frame inference results for ``tracking``'s plays: per-frame
    features, the model's non-completion probability and the 7 columns
    the scores stage reads (reference inference/create_dataset.py:153-165
    and inference.py)."""
    feats = build_features(tracking, plays, per_frame=True)
    # The Arrow scorer, not ``native=True``: PELT runs on these
    # probabilities, and with the JVM scorer the pipeline benchmark's
    # pinned scores hash no longer matches ("scores differ from an
    # earlier run of the same seed").
    scored = score_dataframe(
        feats.na.fill(0, list(FEATURE_COLS)), model,
        output_col="non_completion_probability",
    )
    return scored.select(
        "game_id",
        "play_id",
        "frame_id",
        "receiver_id",
        "defender_id",
        F.col("target").alias("pass_result"),
        "non_completion_probability",
    )


def run_pipeline(
    spark: SparkSession,
    raw_before: DataFrame,
    raw_after: DataFrame,
    raw_plays: DataFrame,
    workdir: str,
    train_weeks: int = 9,
    validate: bool = True,
) -> PipelineResult:
    """Run the full flow, materializing each stage under ``workdir``.

    ``validate`` runs the reference's runtime data contracts
    (SURVEY §1.4) as engine-level checks at stage boundaries: unique
    players key + positive weights (players.py:57-84), pass_result
    domain (recovery.py:10-16), m:1 dim-side uniqueness.
    """
    from ..operators.quality import (
        assert_no_nulls,
        assert_unique_key,
        assert_values_in,
    )

    # Per-player facts of the pre-throw frames (bio, direction, side,
    # role, ball landing), one row per (game, play, player): stages 1-3
    # read these rows instead of the frames.
    per_player = _stage(spark, player_plays(raw_before), workdir, "player_plays")

    # Stage 1 — players dimension (reference players.py:87-122).
    players = _stage(spark, create_players_dim(per_player), workdir, "players")
    if validate:
        assert_unique_key(players, ["nfl_id"], label="players dim")
        assert_no_nulls(players, ["nfl_id"], label="players dim")

    # Stage 2 — cleaned plays (reference plays.py:198-229).
    cleaned_plays = _stage(
        spark, clean_plays(raw_plays, per_player), workdir, "plays_cleaned"
    )

    # Stage 3 — cleaned tracking, week-partitioned for pruned reads
    # (reference tracking.py:456-549 writes per-week CSVs); its
    # pre-throw output is the second and last read of the frames.
    before_clean, after_clean = clean_tracking(
        raw_before, raw_after, cleaned_plays, raw_plays, players, per_player
    )
    frame_key = ["game_id", "play_id", "frame_id"]
    before_clean = _stage(
        spark, before_clean, workdir, "tracking_before_cleaned", ["week"], frame_key
    )
    after_clean = _stage(
        spark, after_clean, workdir, "tracking_after_cleaned", ["week"], frame_key
    )

    # Final plays ⋉ tracking sync (reference plays.py:232-300) — to a
    # NEW location, then reread: never overwrite a path being read.
    final_plays = _stage(
        spark,
        filter_plays_with_tracking(cleaned_plays, before_clean),
        workdir,
        "plays_final",
    )
    if validate:
        assert_unique_key(final_plays, ["game_id", "play_id"], label="final plays")
        assert_values_in(
            final_plays, "pass_result", ["C", "I", "IN"], label="final plays"
        )

    # Stage 4 — play-grain features, week-range split
    # (reference create_datasets.py:94-111).
    features = build_features(before_clean, final_plays)
    train, test = train_test_split_by_week(features, final_plays, train_weeks)
    train = _stage(spark, train, workdir, "train")
    test = _stage(spark, test, workdir, "test")

    # Stage 5 — grid-search training (reference train.py:125-181).
    fit = grid_search(train, test)

    # Stage 6 — per-frame inference features + distributed scoring
    # (reference inference/create_dataset.py:153-165 builds them from
    # cleaned BEFORE-throw tracking of the test weeks + inference.py).
    results = score_frames(
        before_clean.where(F.col("week") > train_weeks), final_plays, fit.model
    )
    results = _stage(spark, results, workdir, "inference_results")

    # Stage 7 — deception + recovery scores
    # (reference compute_scores.py:13-50).
    scores = _stage(spark, compute_scores(results), workdir, "scores")

    return PipelineResult(
        players=players,
        cleaned_plays=cleaned_plays,
        before_clean=before_clean,
        after_clean=after_clean,
        train=train,
        test=test,
        model=fit.model,
        scores=scores,
    )
