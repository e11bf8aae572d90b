"""Table schemas for all crawl-state tables (SURVEY §1.3 / FIXTURES F5).

pomp analog: these replace pomp's duck-typed Request/Response/Item
objects (pomp/core/base.py: BaseHttpRequest, BaseHttpResponse;
pomp/contrib/item.py: Item/Field). ``Item``'s metaclass-collected
ordered ``Field``s map 1:1 to StructType's ordered StructFields.
"""

from __future__ import annotations

from pyspark.sql import types as T

# The authoritative input shape (BASELINE.json input_hint).
PAGES = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("warc_ts", T.TimestampType(), True),
    T.StructField("html", T.BinaryType(), True),
    T.StructField("text", T.StringType(), True),
    T.StructField("lang", T.StringType(), True),
])

FRONTIER = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("url_hash", T.LongType(), False),     # xxhash64(canonical url)
    T.StructField("url_murmur3", T.IntegerType(), False),  # F.hash = murmur3_32
    T.StructField("host", T.StringType(), False),
    T.StructField("depth", T.IntegerType(), False),
    T.StructField("priority", T.DoubleType(), False),
    T.StructField("discovered_round", T.IntegerType(), False),
    T.StructField("seq", T.LongType(), False),          # discovery-order key
    T.StructField("salt", T.IntegerType(), False),      # hot-host skew defusal
    T.StructField("state", T.StringType(), False),      # queued|fetched|error|excluded
])

SEEN = T.StructType([
    T.StructField("shard", T.IntegerType(), False),
    T.StructField("kind", T.StringType(), False),       # bloom|cuckoo
    T.StructField("nbits", T.LongType(), False),
    T.StructField("nhashes", T.IntegerType(), False),
    T.StructField("filter", T.BinaryType(), False),
])

ROBOTS_CACHE = T.StructType([
    T.StructField("host", T.StringType(), False),
    T.StructField("robots_txt", T.StringType(), True),
    T.StructField("fetched_ts", T.TimestampType(), True),
    T.StructField("crawl_delay", T.DoubleType(), True),
    T.StructField("disallow", T.ArrayType(T.StringType()), True),
    T.StructField("allow", T.ArrayType(T.StringType()), True),
])

FETCH_LOG = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("round", T.IntegerType(), False),
    T.StructField("status", T.IntegerType(), False),
    T.StructField("warc_ts", T.TimestampType(), True),
    T.StructField("text", T.StringType(), True),
    T.StructField("n_links", T.IntegerType(), True),
    T.StructField("error", T.StringType(), True),
])

METRICS = T.StructType([
    T.StructField("round", T.IntegerType(), False),
    T.StructField("partition_id", T.IntegerType(), False),
    T.StructField("urls_fetched", T.LongType(), False),
    T.StructField("urls_new", T.LongType(), False),
    T.StructField("bytes", T.LongType(), False),
    T.StructField("wall_ms", T.LongType(), False),
])

CHECKPOINT = T.StructType([
    T.StructField("round", T.IntegerType(), False),
    T.StructField("snapshot_ids", T.MapType(T.StringType(), T.LongType()), False),
    T.StructField("budget_left", T.LongType(), False),
])

TRACE = T.StructType([
    T.StructField("seq", T.LongType(), False),          # global fetch order
    T.StructField("round", T.IntegerType(), False),
    T.StructField("url", T.StringType(), False),
    T.StructField("depth", T.IntegerType(), False),
    T.StructField("host", T.StringType(), False),
])

SITEMAP = T.StructType([
    T.StructField("src_url", T.StringType(), False),
    T.StructField("dst_url", T.StringType(), False),
    T.StructField("pos", T.IntegerType(), False),
])
