"""Multimodal column support — SURVEY.md §2.13 / BASELINE.md
mandate: image/audio/video as opaque ``binary`` columns with typed
metadata, processed by Arrow-batched Pandas functions.

The container has no image/audio codecs, so the decode kernel is
STUBBED: a deterministic fake feature extractor stands in behind the
same ``mapInPandas`` plumbing a real decoder would use (schema,
batching, partitioning are real and tested; swap ``_decode_batch``'s
body for PIL/ffmpeg when available — the Spark side is unchanged).

Binary payloads are synthesized from ``documents.text`` (utf-8
encode) purely to have bytes to move; the engine-relevant parts are
the BinaryType column, the metadata struct, and the Arrow round-trip.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cricket_analytics_nosql_spark.operators.spec import QuerySpec
from cricket_analytics_nosql_spark.session import local_frame
from cricket_analytics_nosql_spark.sources.tables import load_table

HAVE_PIL = False
try:  # pragma: no cover - codec libs absent in this container
    import PIL.Image  # noqa: F401

    HAVE_PIL = True
except ImportError:
    pass

# NOTE on HAVE_PIL: it is a capability flag only. The kernels below
# always run the deterministic byte-math stand-ins — the synthetic
# payloads are UTF-8 text, not decodable media, and the driver's
# oracle checks pin the deterministic outputs, so installing codecs
# must never change (or break) results. A real deployment swaps the
# kernel BODY at the documented plug-in points, keyed on HAVE_PIL,
# with its own golden tests.


def attach_binary(docs: DataFrame) -> DataFrame:
    """documents → multimodal frame: payload bytes + metadata struct.
    (In production the payload comes off object storage; everything
    downstream only sees (payload, meta).)"""
    return docs.select(
        "doc_id",
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.struct(
            F.lit("text/plain").alias("mime"),
            F.col("n_chars").alias("declared_size"),
            F.col("source").alias("origin"),
        ).alias("meta"),
    )


FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("head_sum", T.LongType()),
        T.StructField("frame_count", T.LongType()),
    ]
)


def _decode_batch(batch: pd.DataFrame) -> pd.DataFrame:
    """Deterministic fake 'decode': byte length, checksum of the
    first 64 bytes, and a fake frame count (bytes // 256). A real
    decoder (PIL / ffmpeg) plugs in here, same signature."""
    payloads = batch["payload"]
    return pd.DataFrame(
        {
            "doc_id": batch["doc_id"],
            "n_bytes": payloads.map(len),
            "head_sum": payloads.map(lambda b: int(sum(b[:64]))),
            "frame_count": payloads.map(lambda b: len(b) // 256),
        }
    )


def decode_features(mm: DataFrame) -> DataFrame:
    """The multimodal hot path: Arrow-batched ``mapInPandas`` over
    (doc_id, payload). Batches stream through Python with Arrow
    zero-copy; partitioning is preserved (no shuffle), so at 100 TB
    this scales with executors exactly like a JVM map."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            yield _decode_batch(b)

    return mm.select("doc_id", "payload").mapInPandas(gen, FEATURE_SCHEMA)


RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("thumb", T.BinaryType()),
    ]
)


def resize_images(mm: DataFrame, max_side: int = 64) -> DataFrame:
    """Resize kernel behind the same mapInPandas plumbing. STUB: with
    no codec library, 'dimensions' are derived deterministically from
    the payload (sqrt split of the byte count) and the 'thumbnail' is
    a byte-subsample — a real implementation swaps only the function
    body (PIL ``Image.open(io.BytesIO(b)).thumbnail(...)``)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            n = b["payload"].map(len)
            width = n.map(lambda x: max(1, int(x ** 0.5)))
            height = (n // width.clip(lower=1)).astype("int64")
            step = (n // (max_side * max_side)).clip(lower=1)
            thumb = [
                bytes(p[:: int(s)][: max_side * max_side])
                for p, s in zip(b["payload"], step)
            ]
            yield pd.DataFrame(
                {
                    "doc_id": b["doc_id"],
                    "width": width.astype("int64"),
                    "height": height,
                    "thumb": thumb,
                }
            )

    return mm.select("doc_id", "payload").mapInPandas(kernel, RESIZE_SCHEMA)


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_no", T.LongType()),
        T.StructField("frame", T.BinaryType()),
    ]
)


def sample_frames(mm: DataFrame, every: int = 256, limit: int = 4) -> DataFrame:
    """Frame-sampling kernel (1 row in → N frame rows out — the UDTF
    shape, SURVEY §2.12). STUB: 'frames' are fixed-stride byte slices
    standing in for decoded video frames; the row-explosion plumbing,
    schema, and batch handling are the real deliverable."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            out_ids, out_nos, out_frames = [], [], []
            for doc_id, payload in zip(b["doc_id"], b["payload"]):
                for i in range(min(limit, max(1, len(payload) // every))):
                    out_ids.append(doc_id)
                    out_nos.append(i)
                    out_frames.append(bytes(payload[i * every:(i + 1) * every]))
            yield pd.DataFrame(
                {"doc_id": out_ids, "frame_no": out_nos, "frame": out_frames}
            )

    return mm.select("doc_id", "payload").mapInPandas(kernel, FRAME_SCHEMA)


def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable slice of the binary plumbing that needs no
    Python: payload size + content hash + metadata projection,
    aggregated per origin. (The mapInPandas path is exercised by the
    test suite; this query pins the schema/bytes semantics against
    the DuckDB oracle.)"""
    mm = attach_binary(load_table(spark, sf_dir, "documents"))
    return (
        mm.select(
            F.col("meta.origin").alias("origin"),
            F.length(F.col("payload")).alias("n_bytes"),
            F.md5(F.col("payload")).alias("h"),
            (F.length(F.col("payload")) == F.col("meta.declared_size")).cast(
                "int"
            ).alias("size_matches"),
        )
        .groupBy("origin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_bytes").alias("total_bytes"),
            F.sum("size_matches").alias("n_size_matches"),
            F.min("h").alias("min_hash"),
        )
        .orderBy("origin")
    )


ORACLE_MULTIMODAL_META = """
WITH mm AS (
  SELECT source AS origin,
         octet_length(encode(text)) AS n_bytes,
         md5(text) AS h,
         CASE WHEN octet_length(encode(text)) = n_chars THEN 1 ELSE 0 END
           AS size_matches
  FROM documents
)
SELECT origin, COUNT(*) AS n_docs, CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
       CAST(SUM(size_matches) AS BIGINT) AS n_size_matches, MIN(h) AS min_hash
FROM mm
GROUP BY origin
ORDER BY origin
"""


def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``mapInPandas`` decode kernel as a driver query: the Arrow
    round-trip must be byte-lossless, so the decoded n_bytes /
    frame_count must equal what SQL computes from the source text
    directly. (head_sum has no SQL twin — pinned by unit tests.)"""
    mm = attach_binary(load_table(spark, sf_dir, "documents"))
    return (
        decode_features(mm)
        .select("doc_id", "n_bytes", "frame_count")
        .orderBy("doc_id")
        .limit(500)
    )


ORACLE_MULTIMODAL_DECODE = """
SELECT doc_id,
       octet_length(encode(text)) AS n_bytes,
       octet_length(encode(text)) // 256 AS frame_count
FROM documents ORDER BY doc_id LIMIT 500
"""


def multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The frame-sampling kernel (1 row in → N frame rows out) as a
    driver query: per-doc frame count + total sampled bytes, which
    the oracle reproduces in closed form (stride slices of the
    payload: every frame is full 256 bytes except a short payload's
    single truncated one)."""
    mm = attach_binary(load_table(spark, sf_dir, "documents"))
    return (
        sample_frames(mm)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_frames"),
            F.sum(F.length("frame")).alias("frame_bytes"),
        )
        .orderBy("doc_id")
        .limit(500)
    )


ORACLE_MULTIMODAL_FRAMES = """
WITH b AS (SELECT doc_id, octet_length(encode(text)) AS n FROM documents)
SELECT doc_id,
       LEAST(4, GREATEST(1, n // 256)) AS n_frames,
       CASE WHEN n < 256 THEN n ELSE 256 * LEAST(4, n // 256) END AS frame_bytes
FROM b ORDER BY doc_id LIMIT 500
"""


def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The resize kernel as a driver query: stub dimensions and
    thumbnail sizes are deterministic functions of the payload byte
    count, so the oracle reproduces them in closed form (width =
    ⌊√n⌋, height = n // width, thumb = every-step-th byte capped at
    64×64)."""
    mm = attach_binary(load_table(spark, sf_dir, "documents"))
    return (
        resize_images(mm)
        .select(
            "doc_id",
            "width",
            "height",
            F.length("thumb").alias("thumb_bytes"),
        )
        .orderBy("doc_id")
        .limit(500)
    )


ORACLE_MULTIMODAL_RESIZE = """
WITH b AS (SELECT doc_id, octet_length(encode(text)) AS n FROM documents)
SELECT doc_id,
       CAST(FLOOR(SQRT(n)) AS BIGINT) AS width,
       n // CAST(FLOOR(SQRT(n)) AS BIGINT) AS height,
       LEAST(4096,
             (n + GREATEST(1, n // 4096) - 1) // GREATEST(1, n // 4096))
         AS thumb_bytes
FROM b ORDER BY doc_id LIMIT 500
"""


PHASH_BANDS = 4  # 4 × 16-bit bands over the 64-bit hash
PHASH_MAX_HAMMING = 12


def _phash_batch(batch: pd.DataFrame) -> pd.DataFrame:
    """Deterministic average-hash stand-in for a perceptual hash:
    split the payload into 64 byte slices, bit i = slice mean above
    the global mean. Byte-local edits flip few bits, so Hamming
    distance tracks payload similarity — the property a real pHash
    (DCT over decoded pixels, plugging in here) provides for images."""
    import numpy as np

    def ahash(b: bytes) -> int:
        arr = np.frombuffer(b, dtype=np.uint8)
        if arr.size < 64:
            arr = np.pad(arr, (0, 64 - arr.size))
        overall = arr.mean()
        h = 0
        for i, sl in enumerate(np.array_split(arr, 64)):
            if sl.size and sl.mean() > overall:
                h |= 1 << i
        return h - (1 << 64) if h >= 1 << 63 else h  # signed long

    return pd.DataFrame(
        {"doc_id": batch["doc_id"], "phash": batch["payload"].map(ahash)}
    )


def payload_phashes(mm: DataFrame) -> DataFrame:
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            yield _phash_batch(b)

    return mm.select("doc_id", "payload").mapInPandas(
        gen, "doc_id long, phash long"
    )


def phash_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate detection on the BINARY modality — the
    dedup_simhash discipline applied through the multimodal decode
    plumbing: per-payload 64-bit perceptual hash (mapInPandas
    kernel), candidates from 16-bit band collisions (bucketed
    equi-join, never all-pairs), exact Hamming ≤ 12 verify via
    ``bit_count(a XOR b)``. Recall is GUARANTEED for Hamming ≤ 3
    (pigeonhole over 4 bands forces a clean band) and best-effort
    up to the 12 threshold — the standard LSH trade; tighten by
    adding band rotations if the miss rate matters. Hash-seeded
    pair rows (no cross-engine oracle); the catalog query
    ``multimodal_phash_dedup`` audits this path's guaranteed-recall
    tier instead. Kernel determinism, locality, and the ≤ 3 recall
    guarantee are pinned in tests/test_llm_ops.py."""
    mm = attach_binary(load_table(spark, sf_dir, "documents"))
    hashes = payload_phashes(mm).localCheckpoint()  # two consumers
    bands = hashes.select(
        "doc_id",
        "phash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright("phash", 16 * i)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("key"),
                    )
                    for i in range(PHASH_BANDS)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "phash", "b.band", "b.key")
    a, b = [
        bands.select(
            F.col("doc_id").alias(f"doc_{s}"),
            F.col("phash").alias(f"ph_{s}"),
            "band",
            "key",
        )
        for s in ("a", "b")
    ]
    return (
        a.join(b, ["band", "key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "ph_a", "ph_b")
        .distinct()
        .withColumn(
            "hamming", F.bit_count(F.col("ph_a").bitwiseXOR(F.col("ph_b")))
        )
        .filter(F.col("hamming") <= PHASH_MAX_HAMMING)
        .select("doc_a", "doc_b", "hamming")
        .orderBy("doc_a", "doc_b")
    )


def multimodal_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-oracleable audit of the pHash path (the dedup_simhash
    audit pattern): payloads are the UTF-8 text bytes, so two docs
    with identical text have identical payloads, identical pHashes,
    and Hamming 0 — inside the pigeonhole-GUARANTEED recall tier.
    The exact-duplicate truth set is recomputable in DuckDB (text
    equality), and the pHash pipeline catching ALL of it is a hard
    guarantee, not a statistical floor: any miss means the kernel,
    banding, or verify broke, and the driver hash goes red. Emits
    one row: (n_docs, n_exact_dup_pairs, all_exact_dups_caught).
    Pair rows: ``phash_near_dup_pairs``."""
    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.select("doc_id", F.md5("text").alias("h"))
    truth = (
        keyed.alias("a")
        .join(keyed.alias("b"), "h")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .localCheckpoint()
    )
    n_docs = docs.count()
    n_truth = truth.count()
    caught = truth.join(
        phash_near_dup_pairs(spark, sf_dir), ["doc_a", "doc_b"], "left_semi"
    ).count()
    return local_frame(
        spark,
        [(n_docs, n_truth, caught == n_truth)],
        "n_docs long, n_exact_dup_pairs long, all_exact_dups_caught boolean",
    )


def multimodal_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The binary-modality twin of ``training_pipeline_e2e``: attach
    payloads → Arrow-batched decode (``decode_features``, the REAL
    mapInPandas plumbing — so the Python batch path itself sits
    inside the hash-checked dataflow) → keep decodable payloads
    (≥ 1 frame) → exact payload dedup (min doc_id per content hash,
    cumulating on the decodable set) → per-source audit of bytes,
    frames, and the decoder's head checksum. Payloads are the UTF-8
    text bytes and the corpus is pure printable ASCII (verified at
    every sf), so DuckDB replays the decoder arithmetic exactly:
    n_bytes = length, frame_count = length // 256, head_sum = Σ of
    the first 64 character codes."""
    docs = load_table(spark, sf_dir, "documents")
    feats = decode_features(attach_binary(docs))
    joined = feats.join(
        docs.select("doc_id", "source", F.md5("text").alias("h")), "doc_id"
    )
    decodable = joined.filter(F.col("frame_count") >= 1)
    w = Window.partitionBy("h")
    unique = decodable.withColumn(
        "__keep", F.min("doc_id").over(w)
    ).filter(F.col("doc_id") == F.col("__keep"))
    per_src = lambda df, name: df.groupBy("source").agg(  # noqa: E731
        F.count(F.lit(1)).alias(name)
    )
    audit = unique.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_unique"),
        F.sum("n_bytes").alias("total_bytes"),
        F.sum("frame_count").alias("total_frames"),
        F.sum("head_sum").alias("head_sum_total"),
    )
    return (
        per_src(joined, "n_raw")
        .join(per_src(decodable, "n_decodable"), "source")
        .join(audit, "source")
        .orderBy("source")
    )


ORACLE_MULTIMODAL_PIPELINE = """
WITH flagged AS (
  SELECT source, doc_id, text,
         length(text) AS n_bytes,
         length(text) // 256 AS frame_count,
         MIN(doc_id) OVER (PARTITION BY md5(text)) AS keeper
  FROM documents
)
SELECT f.source,
       COUNT(*) AS n_raw,
       COUNT(*) FILTER (f.frame_count >= 1) AS n_decodable,
       COUNT(*) FILTER (f.frame_count >= 1 AND f.doc_id = f.keeper)
         AS n_unique,
       CAST(SUM(f.n_bytes)
            FILTER (f.frame_count >= 1 AND f.doc_id = f.keeper) AS BIGINT)
         AS total_bytes,
       CAST(SUM(f.frame_count)
            FILTER (f.frame_count >= 1 AND f.doc_id = f.keeper) AS BIGINT)
         AS total_frames,
       CAST(SUM(list_aggregate(
              list_transform(string_split(substr(f.text, 1, 64), ''),
                             c -> ascii(c)), 'sum'))
            FILTER (f.frame_count >= 1 AND f.doc_id = f.keeper) AS BIGINT)
         AS head_sum_total
FROM flagged f
GROUP BY f.source
ORDER BY f.source
"""


ORACLE_MULTIMODAL_PHASH_DEDUP = """
WITH pairs AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2
  FROM documents a
  JOIN documents b ON md5(a.text) = md5(b.text) AND a.text = b.text
  WHERE a.doc_id < b.doc_id
)
SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
       COUNT(*) AS n_exact_dup_pairs,
       TRUE AS all_exact_dups_caught
FROM pairs
"""


# --------------------------------------------------------------------------
# byte-budgeted shard packing — the media-dataset layout step
# --------------------------------------------------------------------------

SHARD_BYTES = 8192  # per-shard byte budget (WebDataset-tar-style)
SHARD_BUCKET = 64  # doc_ids per cumsum bucket (the two-level prefix)


def multimodal_shard_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack binary payloads into byte-budgeted shards in stable
    doc_id order — the layout step every media dataset needs before
    a dataloader can stream it (WebDataset tar shards, array-record
    chunks): blob b lands in shard floor(prefix_bytes(b) / budget).
    Audit rows: per shard, item count, byte mass, doc_id span, fill%.

    The point at 100 TB is HOW the global running total is computed:
    a naive unpartitioned window moves the corpus to one task. Here
    it is the two-level prefix — (1) bucket by doc_id range (ordered
    buckets, {SHARD_BUCKET} ids each), (2) per-bucket byte sums
    (tiny frame) take one windowed prefix, (3) each row adds its
    WITHIN-bucket prefix (window partitioned by bucket) to its
    bucket's broadcast offset. Every exchange is either keys+counts
    or partitioned-by-bucket; nothing corpus-scale ever serializes
    through one partition. Compose with ``corpus_shuffle`` upstream
    when load order must be random — packing is order-stable either
    way."""
    blobs = attach_binary(load_table(spark, sf_dir, "documents")).select(
        "doc_id",
        F.length("payload").cast("long").alias("nb"),
        (F.col("doc_id") - F.col("doc_id") % SHARD_BUCKET).alias("bkt"),
    )
    per_bkt = blobs.groupBy("bkt").agg(F.sum("nb").alias("bkt_bytes"))
    wb = Window.orderBy("bkt").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = per_bkt.select(
        "bkt", F.coalesce(F.sum("bkt_bytes").over(wb), F.lit(0)).alias("off")
    )
    ww = (
        Window.partitionBy("bkt")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    placed = (
        blobs.withColumn(
            "local_off", F.coalesce(F.sum("nb").over(ww), F.lit(0))
        )
        .join(F.broadcast(offsets), "bkt")
        .select(
            "doc_id",
            "nb",
            ((F.col("off") + F.col("local_off")) / SHARD_BYTES)
            .cast("long")
            .alias("shard"),
        )
    )
    return (
        placed.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("nb").alias("shard_bytes"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .withColumn(
            "fill_pct",
            F.round(
                F.col("shard_bytes").cast("double") / SHARD_BYTES * 100, 2
            ),
        )
        .orderBy("shard")
    )


ORACLE_SHARD_PACK = f"""
WITH blobs AS (
  SELECT doc_id,
         CAST(octet_length(encode(text)) AS BIGINT) AS nb,
         doc_id - doc_id % {SHARD_BUCKET} AS bkt
  FROM documents
), per_bkt AS (
  SELECT bkt, CAST(SUM(nb) AS BIGINT) AS bkt_bytes FROM blobs GROUP BY bkt
), offsets AS (
  SELECT bkt,
         CAST(COALESCE(SUM(bkt_bytes) OVER (
           ORDER BY bkt ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS BIGINT) AS off
  FROM per_bkt
), placed AS (
  SELECT b.doc_id, b.nb,
         -- // not CAST(x / n AS BIGINT): DuckDB's double→int CAST
         -- ROUNDS (half-even) where Spark's truncates
         CAST((o.off + COALESCE(SUM(b.nb) OVER (
            PARTITION BY b.bkt ORDER BY b.doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
          ), 0)) // {SHARD_BYTES} AS BIGINT) AS shard
  FROM blobs b JOIN offsets o ON b.bkt = o.bkt
)
SELECT shard, COUNT(*) AS n_items,
       CAST(SUM(nb) AS BIGINT) AS shard_bytes,
       CAST(MIN(doc_id) AS BIGINT) AS first_doc,
       CAST(MAX(doc_id) AS BIGINT) AS last_doc,
       ROUND(CAST(SUM(nb) AS DOUBLE) / {SHARD_BYTES} * 100, 2) AS fill_pct
FROM placed
GROUP BY shard
ORDER BY shard
"""


QUERIES: dict[str, QuerySpec] = {
    "multimodal_shard_pack": QuerySpec(
        multimodal_shard_pack,
        ORACLE_SHARD_PACK,
        ["X-mm", "X-training", "A1", "§2.8"],
    ),
    "multimodal_phash_dedup": QuerySpec(
        multimodal_phash_dedup,
        ORACLE_MULTIMODAL_PHASH_DEDUP,
        ["X-mm", "X-dedup", "§2.12", "A1"],
    ),
    "multimodal_meta": QuerySpec(
        multimodal_meta, ORACLE_MULTIMODAL_META, ["X-mm"]
    ),
    "multimodal_pipeline_e2e": QuerySpec(
        multimodal_pipeline_e2e,
        ORACLE_MULTIMODAL_PIPELINE,
        ["X-mm", "X-dedup", "§2.12", "A1", "A9"],
    ),
    "multimodal_decode": QuerySpec(
        multimodal_decode, ORACLE_MULTIMODAL_DECODE, ["X-mm", "§2.12"]
    ),
    "multimodal_frames": QuerySpec(
        multimodal_frames, ORACLE_MULTIMODAL_FRAMES, ["X-mm", "§2.12"]
    ),
    "multimodal_resize": QuerySpec(
        multimodal_resize, ORACLE_MULTIMODAL_RESIZE, ["X-mm", "§2.12"]
    ),
}
