"""Driver-checked query suite.

Importing this package populates :mod:`parquet_importer_spark.registry`
with every implemented operator from SURVEY.md §2. Each submodule covers
one inventory section.
"""

# Import order IS registry order. The driver's correctness window
# truncates at 50 entries; __spark_entry__._driver_order() picks which
# keys fill it from the recorded driver history, and registry order only
# breaks ties within each of its tiers.
from parquet_importer_spark.suite import (  # noqa: F401
    windows,
    relational,
    streaming,
    llm_text,
    llm_similarity,
    llm_sampling,
    analytics_tpch,
    llm_retrieval,
    scans,
    sinks_suite,
    udf_suite,
    aggregates,
    analytics,
    flagship,
    functions,
    joins,
    llm_dedup,
    llm_filtering,
    llm_multimodal,
)

from parquet_importer_spark.registry import QUERIES, ORACLES  # noqa: F401
