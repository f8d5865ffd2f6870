from deja_view_spark.operators.selfjoin import duplicate_edges  # noqa: F401
from deja_view_spark.operators.topk import TopKSimilar  # noqa: F401
