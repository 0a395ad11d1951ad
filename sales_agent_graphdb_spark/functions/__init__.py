from sales_agent_graphdb_spark.functions.scalar import (  # noqa: F401
    money,
    surrogate_sku,
)
from sales_agent_graphdb_spark.functions.text import normalize_alnum  # noqa: F401
