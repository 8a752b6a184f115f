"""PySpark-native analytics engine with the query capabilities of the
reference `wkw8402/secure-agent-api-vector-search` (read-only snapshot at
/root/reference/), rebuilt Spark-first.

The reference is a secure RAG stack: a typed, named-query API
(`tools.yaml:12-39`) over one document table (`sql/02_schema.sql:2-15`)
with pgvector cosine top-k search (`tools.yaml:22-27`) and an IVF index
(`sql/05_vector_index.sql:3-5`). This package re-expresses those
semantics — plus the LLM-data-pipeline extensions (dedup, similarity
join, text analysis, multimodal plumbing, streaming ingest) — as
DataFrame/Catalyst plans designed for 100 TB scale:

- exact top-k → ``orderBy().limit()`` = ``TakeOrderedAndProject``
  (per-partition heap + driver merge, no global sort);
- IVF index → KMeans centroids + ``list_id``-partitioned parquet, so
  probing is ordinary partition pruning;
- vector math → one Arrow-batched left-fold scorer for every
  query-vs-corpus top-k, native expressions for column pairs;
- small dimensions → broadcast joins; AQE on for skew.
"""

__version__ = "0.1.0"

from secure_agent_api_vector_search_spark.session import get_session  # noqa: F401
