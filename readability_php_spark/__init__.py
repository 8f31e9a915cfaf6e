"""readability_php_spark — a from-scratch PySpark-native main-content extraction engine.

Re-expresses the capabilities of andreskrey/readability.php (reference at
/root/reference, read-only) as a Spark-first pipeline:

- ``readability_php_spark.kernel``   — the pure-Python per-document extraction
  kernel (DOM parse → prune → score → select → clean → serialize), the analogue
  of ``src/Readability.php``.  No Spark dependency; unit-testable standalone.
- ``readability_php_spark.dom``      — a lenient HTML5-ish parser + mutable DOM
  tree + canonical serializer built on the stdlib (no lxml in this environment).
- ``readability_php_spark.operators`` — Spark DataFrame operators: the
  vectorized ``mapInPandas`` extraction operator, dedup (exact / MinHash-LSH /
  n-gram Jaccard), similarity search, and text-analysis functions.
- ``readability_php_spark.plans``    — end-to-end jobs: scan → skew-salted
  repartition → size-bucketed Arrow batches → extract → write, with
  per-partition lineage/metrics and checkpoint-manifest resume.
- ``readability_php_spark.sources``  — table loaders and the deterministic
  synthetic page-corpus generator used by tests and bench.
"""

__version__ = "0.1.0"
