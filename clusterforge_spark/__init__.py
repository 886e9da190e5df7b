"""clusterforge_spark — a PySpark-native analytics engine.

A brand-new engine with the query and data-processing capabilities of the
reference ``kunalsinghdadhwal/clusterforge`` (a single-node Rust CLI doing
RFM feature engineering + K-means customer segmentation; see SURVEY.md),
re-expressed idiomatically on Spark DataFrames, built-in SQL expressions and
MLlib — plus LLM-data-pipeline operators (dedup, similarity search,
multimodal columns, text analysis) designed for 100 TB scale.

Design stance (SURVEY.md §7):
  * DataFrame/SQL first — declarative plans, Catalyst optimizes.
  * No driver-side row data: ``collect()`` only on k-row results.
  * Explicit schemas (no inference pass at scale), Parquet-first.
  * AQE on; broadcast small dims; exact + approx variants of heavy aggs.
  * Python UDFs only where built-ins genuinely can't express the op
    (multimodal decode), and then Arrow-batched via mapInPandas.
"""

from clusterforge_spark.session import get_spark, configure_runtime

# Library API surface (the analog of the reference's lib.rs:6-18 pub use
# re-exports): operator namespaces plus the pipeline / model-store /
# curation / CLI entry points, so consumers can write
# ``from clusterforge_spark import dedup`` or
# ``clusterforge_spark.run_full_pipeline(...)`` instead of deep paths.
from clusterforge_spark.functions import hashing, partitioning, rounding, vector
from clusterforge_spark.operators import (
    clustering,
    dedup,
    features,
    layout,
    metrics,
    multimodal,
    packing,
    relational,
    similarity,
    sketches,
    text,
    validation,
)
from clusterforge_spark.sources import readers, sinks
from clusterforge_spark.streaming import sessionize
from clusterforge_spark.cli import main as cli_main
from clusterforge_spark.curation import run_curation_pipeline
from clusterforge_spark.model_store import (
    SavedModel,
    load_model,
    model_exists,
    save_model,
)
from clusterforge_spark.pipeline import (
    PipelineResult,
    format_report,
    load_events_rfm,
    load_retail_rfm,
    run_full_pipeline,
    run_prediction,
)

__all__ = [
    # session
    "get_spark",
    "configure_runtime",
    # operator namespaces
    "clustering",
    "dedup",
    "features",
    "layout",
    "metrics",
    "multimodal",
    "packing",
    "relational",
    "similarity",
    "sketches",
    "text",
    "validation",
    # functions
    "hashing",
    "partitioning",
    "rounding",
    "vector",
    # sources
    "readers",
    "sinks",
    # streaming
    "sessionize",
    # pipeline / serving / CLI
    "PipelineResult",
    "run_full_pipeline",
    "run_prediction",
    "load_events_rfm",
    "load_retail_rfm",
    "format_report",
    "SavedModel",
    "save_model",
    "load_model",
    "model_exists",
    "run_curation_pipeline",
    "cli_main",
]
__version__ = "0.1.0"
