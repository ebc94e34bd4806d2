"""PySpark-native analytics engine.

A brand-new Spark-first engine with the query and data-processing
capabilities of the reference NFL Big Data Bowl 2026 pipeline
(``miguelmendesduarte/big-data-bowl-2026-analytics``), plus the
large-scale training-data-pipeline operators (dedup, similarity
search, text analysis, binary-column metadata) the reference lacks.

Layout:

- ``core``       SparkSession factory + settings
- ``schemas``    explicit StructTypes for every table
- ``sources``    readers/writers (parquet/csv), partition layout
- ``functions``  pure Column-level scalar function library
- ``operators``  reusable relational operators (semi joins, argmin,
                 dedup, similarity, text stats, windows)
- ``plans``      the query registry: named queries + DuckDB oracles
- ``pipeline``   the reference-parity cleaning/feature pipelines
- ``metrics``    deception (change-point) / recovery scoring
- ``ml``         numpy logistic model, distributed scoring, eval
- ``viz``        distributed play rendering (BMP frames, APNG/GIF clips)
"""

__version__ = "0.1.0"
