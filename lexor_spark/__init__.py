"""lexor_spark — a PySpark-native main-content extraction engine.

A from-scratch reimplementation of the capabilities of the reference
document-converter framework (``LaudateCorpus1/lexor``, studied read-only at
``/root/reference``): a lexer→parser→converter→writer chain over HTML
documents, re-expressed as

* a pure-Python-3 **kernel** (``lexor_spark.kernel``) — per-document DOM
  build, boilerplate strip, text+span emission; zero Spark dependencies so
  it doubles as the serial correctness oracle; and
* a **Spark harness** (``lexor_spark.job``) — Arrow-batched ``mapInArrow``
  execution of the kernel over a Common-Crawl-style pages table, with url-hash
  repartitioning, per-partition metrics/lineage, and checkpointed resume.

Plus the large-scale training-data operators a 100 TB pipeline needs
(``lexor_spark.dedup``, ``lexor_spark.sim``, ``lexor_spark.textfns``).
"""

from lexor_spark import worker_imports

__version__ = "0.1.0"

# Every Python worker that unpickles one of the package's UDFs imports
# this package, so each worker process installs it once.
worker_imports.install()
