"""commoncrawlnewsdataset_spark — a from-scratch, PySpark-native analytics engine
with the query and data-processing capabilities of blueai2022/CommonCrawlNewsDataSet.

The reference (/root/reference, read-only) is a single-machine pandas +
multiprocessing pipeline: WARC download -> extract -> HTML-to-text -> quality
metrics -> filter -> NER -> geocode -> SQLite star schema -> embeddings ->
vector indexes.  This package re-expresses those dataflow semantics as lazy
DataFrame plans that Catalyst/Tungsten optimize and execute, plus the scalable
URL-frontier / fetch-scheduler the reference implements implicitly at file
granularity (BASELINE.json north_rule).

Layout
------
- ``session``    SparkSession factory (AQE, Arrow, shuffle sizing).
- ``schemas``    StructTypes for every table (pages, frontier, seeds, ...).
- ``synth``      deterministic synthetic-data generators (pure fn of seed+scale).
- ``functions``  scalar/vectorized column functions (urls, hashes, text metrics,
                 normalization, extraction, language id).
- ``operators``  relational operators (filters, dedup family, similarity search,
                 quantization, top-k, spatial join, multimodal plumbing).
- ``plans``      end-to-end stage graphs (pipeline, star schema, analytics).
- ``frontier``   URL frontier: canonicalize+hash URL-seen (bloom + exact
                 anti-join), per-host politeness window, robots gating, wave
                 loop with checkpoint/resume and per-partition metrics.
"""

__version__ = "0.1.0"
