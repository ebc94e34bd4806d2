"""Query corpus. Importing this package registers every named query.

Modules map to SURVEY.md §2 operator classes:

- ``relational``  — scans, filters, projections, joins, aggregations
  (§2.2 P*, §2.3 J*, §2.4 A*, §2.6 O*, §2.7 E1, §2.8 F*)
- ``windows``     — ordered/window operators (§2.5 W*)
- ``timeseries``  — event-time windowing, sessions, lateness audits
- ``text``        — dedup + text-analysis pipeline operators
- ``similarity``  — embedding similarity search (brute force + LSH)
- ``mlq``         — distributed model scoring + evaluation (§2.9 U7/U8)
"""

# Importing a submodule registers its queries, so importing this
# package makes the registry complete.
from . import (  # noqa: F401
    arrays,
    curation,
    graphgeo,
    llmdata,
    mlq,
    pipelineops,
    ranking,
    relational,
    scalarlib,
    similarity,
    sketches,
    splits,
    statlab,
    temporal,
    text,
    timeseries,
    windows,
)
