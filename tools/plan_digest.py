"""One digest line per registry query: the "same plans" proof for a
refactor that must not change what any query runs.

For each query it builds the DataFrame at the given scale, then hashes
three things: the optimized logical plan, the physical plan and the
oracle SQL string. A checkpointed frame prints only as ``LogicalRDD`` /
``Scan ExistingRDD``, which hides the plan that built it, so every
``localCheckpoint`` the builder makes also adds its origin frame's
optimized and physical plans to the hash. Expression ids (``#123``),
exchange plan ids (``plan_id=7``) and whole-stage-codegen ids (``*(3)``,
``codegen id : 3``) are renumbered per session, so they are stripped
first. Run it at two commits and ``diff`` the outputs; any differing
line names a query whose plan or oracle moved.

Expression ids still reach the plans through hash order: for example
the ``Expand`` that rewrites several distinct aggregates lists its
groups in the hash order of their attributes. A refactor that changes
how many ids earlier builders allocate can so move the line of a query
whose own code is untouched; build that query alone in a fresh session
at both commits and compare its plans to tell the two apart.

Usage:
    python tools/plan_digest.py --sf <tables dir> > digest.txt
"""

from __future__ import annotations

import argparse
import functools
import hashlib
import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from pyspark.sql.classic.dataframe import DataFrame  # noqa: E402

from big_data_bowl_2026_analytics_spark.core import get_spark  # noqa: E402
from big_data_bowl_2026_analytics_spark.plans import all_queries  # noqa: E402

_IDS = (
    (re.compile(r"#\d+L?"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"\*\(\d+\)"), "*()"),
    (re.compile(r"codegen id : \d+"), "codegen id :"),
)


def normalize(plan: str) -> str:
    """``plan`` with its per-session ids removed."""
    for pat, repl in _IDS:
        plan = pat.sub(repl, plan)
    return plan


def plans(df: DataFrame) -> list[str]:
    """The normalized optimized and physical plans of ``df``."""
    qe = df._jdf.queryExecution()
    return [
        normalize(qe.optimizedPlan().toString()),
        normalize(qe.executedPlan().toString()),
    ]


# Origin plans of the checkpoints made while the current query builds.
_checkpointed: list[str] = []


def _recording(local_checkpoint):
    @functools.wraps(local_checkpoint)
    def wrapped(self, *args, **kwargs):
        _checkpointed.extend(plans(self))
        return local_checkpoint(self, *args, **kwargs)

    return wrapped


def digest(parts: list[str]) -> str:
    h = hashlib.sha256()
    for part in parts:
        h.update(part.encode())
        h.update(b"\0")
    return h.hexdigest()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", required=True, help="directory of the parquet tables")
    args = ap.parse_args()

    specs = all_queries()
    DataFrame.localCheckpoint = _recording(DataFrame.localCheckpoint)
    spark = get_spark("plan-digest")
    # AQE off so the physical plan is the full static plan rather than
    # an unexpanded AdaptiveSparkPlan wrapper.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    for name in sorted(specs):
        spec = specs[name]
        _checkpointed.clear()
        try:
            df = spec.builder(spark, args.sf)
            line = digest(plans(df) + [spec.oracle or "<none>"] + _checkpointed)
        except Exception as e:  # noqa: BLE001
            line = f"ERROR {type(e).__name__}"
        print(f"{name} {line}", flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
