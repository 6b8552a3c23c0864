"""laion_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of ClickHouse/laion (reference at
/root/reference, see SURVEY.md), extended with LLM-data-pipeline
operators (dedup, similarity search, multimodal columns, text analysis)
designed for 100 TB scale.

Architecture: declarative DataFrame/SQL plans all the way down —
Catalyst does the planning (predicate pushdown, column pruning,
TakeOrderedAndProject top-k, AQE); this package supplies the
vector/search/ETL layer Spark lacks. Column-valued vector math is
composed from built-in higher-order functions; literal-query scoring
(one BLAS top-k kernel), the shard ETL, the twin rewrites and the
encoders run as Arrow-batch Python tasks (``mapInArrow``).
"""

from laion_spark.session import get_session, tune_session
from laion_spark.schema import LAION_SCHEMA, EMBEDDING_DIM

__version__ = "0.1.0"

__all__ = [
    "get_session",
    "tune_session",
    "LAION_SCHEMA",
    "EMBEDDING_DIM",
    "__version__",
]
