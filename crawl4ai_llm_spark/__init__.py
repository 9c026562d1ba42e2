"""crawl4ai_llm_spark — a PySpark-native analytics + crawl-frontier engine.

A from-scratch re-expression of the capabilities of ``702ron/crawl4ai_llm``
(reference snapshot at /root/reference, storage/query subsystem) on Apache
Spark: declarative DataFrame plans optimized by Catalyst/AQE, vectorized
Arrow UDFs where built-ins cannot express the semantics, and explicit
partitioning/skew handling designed for 100 TB-scale inputs.

Subpackages
-----------
storage     ProductStore — the reference's BaseStorage contract (save / get /
            update / delete / list) as Spark DataFrame programs over a
            snapshot-committed Parquet table (Iceberg seam).
functions   Column-expression libraries: URL canonicalization & hashing,
            text analysis (lang-id, quality, tokens, fingerprints), vector
            math (cosine/dot) — JVM-side built-ins first, pandas UDFs only
            where unavoidable.
operators   Large-scale training-data pipeline operators: exact + near
            deduplication (MinHash-LSH, SimHash, n-gram Jaccard, embedding
            cosine), similarity search (brute-force + LSH-bucketed ANN),
            pagination envelopes.
frontier    The crawl-side engine mandated by the north rule: exact URL-seen
            set (anti-join, or a resident index), per-host politeness budgets
            with hot-host salting, priority-queue wave scheduler, robots
            rules broadcast join, checkpoint/resume.
"""

from crawl4ai_llm_spark.session import get_spark

__all__ = ["get_spark"]
__version__ = "0.1.0"
