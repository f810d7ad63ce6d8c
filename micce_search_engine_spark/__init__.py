"""micce_search_engine_spark — a PySpark-native inverted-index + BM25 engine.

Brand-new engine (NOT a port) with the capabilities of
kinshotomoya/micce-search-engine: tokenize -> inverted index -> BM25 ->
filter -> rank -> paginate, plus the checkpointed, resumable,
partition-aware feed pipeline the reference's Go services implement.

The reference delegates all search execution to Vespa (declared in
/root/reference/search-engine/schemas/spot.sd); here every piece is
re-expressed Spark-first: DataFrame plans compiled by Catalyst, with
vectorized pandas/Arrow UDFs only for posting-list encode/decode.
"""

__version__ = "0.1.0"

BM25_K1 = 1.2
BM25_B = 0.75
BLOCK_SIZE = 128  # docs per posting block (block-max metadata granularity)

# Python workers: stop re-reading unchanged zip archives on every task
# (see _pyworker); a no-op on the driver
from micce_search_engine_spark import _pyworker  # noqa: E402

_pyworker.install()
