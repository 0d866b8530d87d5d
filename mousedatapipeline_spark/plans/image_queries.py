"""Image-kernel and multimodal catalog entries.

The media kernels (mm01/mm02/mm04/mm05) are driver-hash-gated: the
minted MMSYN payload keystream is reproducible in plain SQL (hex-
chained md5, see operators/multimodal.synth_payload), so each kernel's
numeric output is checked against a closed-form DuckDB re-derivation
built on :func:`_media_sql_prelude`. Only the numpy beam-physics
queries (u01, m15) remain rows-only — their eigendecomposition has no
SQL twin — with closed-form validation in
tests/test_kernels_multimodal.py (synthetic Gaussian beams with
analytically known centroid/σ/coverage).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mousedatapipeline_spark.functions.kernels import beam_analysis
from mousedatapipeline_spark.operators.multimodal import (
    attach_synthetic_media,
    extract_features,
)
from mousedatapipeline_spark.functions.rounding import (
    stable_round,
    stable_round_sql,
)
from mousedatapipeline_spark.operators.aggregates import dsum, dsum_sql
from mousedatapipeline_spark.plans.catalog import register
from mousedatapipeline_spark.tables import load

_H = _W = 32

_HEXD = "0123456789abcdef"


def _media_sql_prelude(max_id: int, mt: int | None = None) -> str:
    """DuckDB CTEs reproducing ``synth_payload`` exactly: key-derived
    metadata (m), the hex-chained md5 keystream (ks — digest i+1 =
    md5 of digest i's hexdigest, the property the keystream was
    designed around), and the body bytes as a 1-based int list (body).
    16 rounds cover the 256-byte max body. ``mt`` narrows to one
    modality (0=image, 1=audio, 2=video) inside the seed CTE so the
    recursion only runs for rows the query consumes."""
    where = f"doc_id < {max_id}"
    if mt is not None:
        where += f" AND doc_id % 3 = {mt}"
    return f"""
    WITH RECURSIVE m AS (
      SELECT doc_id AS media_id, doc_id % 3 AS mt,
             16 + (doc_id % 7) * 8 AS w,
             16 + (doc_id % 5) * 8 AS h,
             CASE WHEN doc_id % 3 = 0 THEN 1
                  ELSE 4 + doc_id % 9 END AS nf,
             64 + (doc_id % 13) * 16 AS blen
      FROM documents WHERE {where}
    ),
    ks(media_id, i, dig, stream) AS (
      SELECT media_id, 1, md5('m' || CAST(media_id AS VARCHAR)),
             md5('m' || CAST(media_id AS VARCHAR)) FROM m
      UNION ALL
      SELECT media_id, i + 1, md5(dig), stream || md5(dig)
      FROM ks WHERE i < 16
    ),
    body AS (
      SELECT m.*,
             [16 * (strpos('{_HEXD}', substr(k.stream, 2*i-1, 1)) - 1)
              + (strpos('{_HEXD}', substr(k.stream, 2*i, 1)) - 1)
              FOR i IN generate_series(1, m.blen)] AS b
      FROM m JOIN ks k ON k.media_id = m.media_id AND k.i = 16
    )"""


def _gaussian_image(batch: int, repetition: int) -> np.ndarray:
    """Deterministic synthetic Gaussian beam: parameters derived from
    the keys, so every engine run produces identical pixels."""
    cy = 10.0 + (batch % 12)
    cx = 10.0 + (repetition % 12)
    sigma = 1.5 + (batch % 4) * 0.5
    amp = 1000.0 + (batch % 7) * 100.0
    rows, cols = np.indices((_H, _W))
    return amp * np.exp(-((rows - cy) ** 2 + (cols - cx) ** 2)
                        / (2 * sigma * sigma))


@register(
    "u01_beam_analysis",
    oracle=None,  # numpy kernel: rows-only check; closed-form tests in tests/
    doc="U1-U4: coverage-ellipse beam analysis (weighted centroid, "
        "sigma_minor/major, theta, 0.997-coverage intensity) over "
        "synthetic Gaussian beams via Arrow mapInPandas.",
)
def u01_beam_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    keys = (li.filter(F.col("l_orderkey") < 200)
            .select(F.col("l_orderkey").alias("batch"),
                    F.col("l_linenumber").alias("repetition"))
            .distinct())

    def gen(batches):
        for pdf in batches:
            rows = []
            for rec in pdf.itertuples(index=False):
                img = _gaussian_image(int(rec.batch), int(rec.repetition))
                rows.append({
                    "batch": rec.batch, "repetition": rec.repetition,
                    "image": img.ravel().tolist(), "height": _H, "width": _W,
                })
            yield pd.DataFrame(
                rows, columns=["batch", "repetition", "image",
                               "height", "width"])

    from pyspark.sql import types as T
    img_schema = T.StructType([
        T.StructField("batch", T.LongType()),
        T.StructField("repetition", T.IntegerType()),
        T.StructField("image", T.ArrayType(T.DoubleType())),
        T.StructField("height", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
    ])
    images = keys.mapInPandas(gen, img_schema)
    stats = beam_analysis(images)
    return stats.select(
        "batch", "repetition",
        stable_round(F.col("com_y"), 4).alias("com_y"),
        stable_round(F.col("com_x"), 4).alias("com_x"),
        stable_round(F.col("sigma_minor"), 4).alias("sigma_minor"),
        stable_round(F.col("sigma_major"), 4).alias("sigma_major"),
        stable_round(F.col("achieved_coverage"), 4)
        .alias("achieved_coverage"),
    )


@register(
    "mm01_media_features",
    # Full-value oracle: the hex-chained keystream is reproduced in
    # SQL (see _media_sql_prelude), so byte mean and histogram bin 0
    # are closed-form — integer sums over the minted body bytes with
    # single-rounding divisions, bit-identical in both engines.
    oracle=_media_sql_prelude(200) + f"""
    SELECT media_id,
           CASE mt WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                ELSE 'video' END AS media_type,
           CAST(blen AS BIGINT) AS n_bytes,
           {stable_round_sql('CAST(list_sum(b) AS DOUBLE) / blen', 4)}
             AS mean_byte,
           {stable_round_sql(
               'CAST(len(list_filter(b, x -> x < 16)) AS DOUBLE)'
               ' / blen')} AS hist_bin0
    FROM body
    """,
    doc="Multimodal plumbing: binary payload + typed metadata columns, "
        "decode-stub + byte-histogram featurization via mapInPandas. "
        "Driver-hash-gated end to end: the oracle regenerates the "
        "payload keystream in SQL and recomputes mean byte and the "
        "first histogram bin in closed form.",
)
def mm01_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    # doc_id < 200, not limit(200): the subset must be the same
    # deterministic set the oracle selects (doc_ids are dense from 0).
    docs = (load(spark, sf_dir, "documents").select("doc_id")
            .filter(F.col("doc_id") < 200))
    media = attach_synthetic_media(docs, "doc_id")
    feats = extract_features(media)
    return feats.select(
        "media_id", "media_type", "n_bytes",
        stable_round(F.col("mean_byte"), 4).alias("mean_byte"),
        stable_round(F.element_at("histogram", 1)).alias("hist_bin0"),
    )


@register(
    "mm02_resized_frames",
    # Full-value oracle: frame materialization (body bytes cycled with
    # a 31-byte per-frame offset), the nearest-neighbor index map
    # ((y*h)//8, (x*w)//8) and the modulo-first polynomial frame
    # fingerprint are all integer arithmetic over the SQL-regenerated
    # keystream; mean_px is an exact dyadic (sum/64). Every resize or
    # sampling off-by-one surfaces as a hash mismatch.
    oracle=_media_sql_prelude(200) + """,
    fr AS (
      SELECT media_id, f,
             [b[1 + ((f*31 + (((i//8)*h)//8)*w + (((i%8)*w)//8))
                     % blen)]
              FOR i IN generate_series(0, 63)] AS pix
      FROM body, UNNEST(generate_series(0, nf - 1, 2)) AS u(f)
    )
    SELECT media_id,
           CAST(f AS INT) AS frame_idx,
           CAST(8 AS INT) AS out_width,
           CAST(8 AS INT) AS out_height,
           CAST(list_sum(pix) AS DOUBLE) / 64 AS mean_px,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
                          [CAST(p AS BIGINT) FOR p IN pix]),
             (acc, v) -> (acc * 257 + v) % 2147483647) AS frame_fp
    FROM fr
    """,
    doc="Multimodal frame pipeline: decode stub -> every-2nd-frame "
        "sampling -> nearest-neighbor resize to 8x8 -> per-frame stats "
        "+ polynomial content fingerprint, all inside one narrow "
        "mapInPandas pass (payloads never shuffle; only small stat "
        "rows continue). Driver-hash-gated against a closed-form "
        "re-derivation of every resized pixel.",
)
def mm02_resized_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mousedatapipeline_spark.operators.multimodal import resize_frames
    docs = (load(spark, sf_dir, "documents").select("doc_id")
            .filter(F.col("doc_id") < 200))
    media = attach_synthetic_media(docs, "doc_id")
    return resize_frames(media, out_w=8, out_h=8, every_k=2)


@register(
    "mm03_phash_neardup",
    # End-to-end SQL gate without reproducing the hash kernel: minted
    # payloads are a pure function of payload_key = doc_id % 150, so
    # equal keys MUST surface as hamming-0 pairs (kernel determinism +
    # LSH completeness), and the 150 distinct minted payloads have no
    # cross-key aHash collision within hamming 3 (deterministic
    # payloads — a fixed, pytest-pinned property, vanishingly rare for
    # 64-bit hashes). The expected pair set is therefore exactly the
    # same-key pairs — a broken kernel (hash collapse -> extra pairs)
    # or a broken band join (missed buckets -> missing pairs) breaks
    # the hash either way.
    oracle="""
    WITH m AS (SELECT doc_id, doc_id % 150 AS k FROM documents
               WHERE doc_id < 300)
    SELECT a.doc_id AS d1, b.doc_id AS d2, CAST(0 AS INT) AS hamming
    FROM m a JOIN m b ON a.k = b.k AND a.doc_id < b.doc_id
    """,
    doc="Perceptual-hash image dedup (LAION-style): aHash of frame 0 "
        "via one narrow mapInPandas pass, then banded LSH over the "
        "64-bit hash (4 x 16-bit bands, pigeonhole-complete for "
        "hamming <= 3) with an exact bit_count(xor) verify — the "
        "MinHash->verify shape applied to media. Payload collisions "
        "are minted deliberately (doc_id % 150 payload key) so the "
        "detector has real duplicates to find; the oracle pins the "
        "full kernel->LSH->verify chain to that known duplicate set.",
)
def mm03_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mousedatapipeline_spark.operators.multimodal import (
        ahash_media,
        phash_neardup_pairs,
    )
    # doc_id < 300, not limit(300): the media subset must be the same
    # deterministic set the oracle selects (doc_ids are dense from 0).
    docs = (load(spark, sf_dir, "documents").select("doc_id")
            .filter(F.col("doc_id") < 300)
            .withColumn("payload_key", F.col("doc_id") % 150))
    media = attach_synthetic_media(docs, "doc_id", key_col="payload_key")
    return phash_neardup_pairs(ahash_media(media), max_hamming=3)


@register(
    "mm04_audio_frame_features",
    # Full-value oracle: int16 PCM decode, 64/32 framing, RMS and ZCR
    # are reproduced over the SQL-regenerated keystream. Every float
    # op is either exact (sample^2 sums are dyadics with < 53
    # mantissa bits; /2^30 and /64 exact) or a single identical
    # rounding (the /len divisions, SQRT), so rms/zcr match
    # bit-for-bit and the decimal-accumulated rollup hash-matches.
    oracle=_media_sql_prelude(300, mt=1) + f""",
    sm AS (
      SELECT media_id, blen // 2 AS n, s.start // 32 AS frame_idx,
             CASE WHEN blen // 2 < 64 THEN blen // 2
                  ELSE 64 END AS flen,
             [CASE WHEN b[2*j + 1] + 256 * b[2*j + 2] >= 32768
                   THEN b[2*j + 1] + 256 * b[2*j + 2] - 65536
                   ELSE b[2*j + 1] + 256 * b[2*j + 2] END
              FOR j IN generate_series(
                  s.start,
                  s.start + CASE WHEN blen // 2 < 64 THEN blen // 2
                                 ELSE 64 END - 1)] AS pcm
      FROM body, UNNEST(generate_series(
               0, greatest(blen // 2 - 64, 0), 32)) AS s(start)
    ),
    fr AS (
      SELECT media_id, frame_idx, flen,
             SQRT((CAST(list_sum([x * x FOR x IN pcm]) AS DOUBLE)
                   / 1073741824.0) / flen) AS rms,
             CAST(list_sum([CASE WHEN (pcm[t] < 0) <> (pcm[t+1] < 0)
                                 THEN 1 ELSE 0 END
                            FOR t IN generate_series(1, flen - 1)])
                  AS DOUBLE) / (flen - 1) AS zcr
      FROM sm
    ),
    rk AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY media_id
                    ORDER BY rms DESC, frame_idx) AS r
      FROM fr
    )
    SELECT media_id,
           CAST(COUNT(*) AS BIGINT) AS n_frames,
           {stable_round_sql(
               dsum_sql("rms") + " / COUNT(*)")} AS mean_rms,
           {stable_round_sql('MAX(rms)')} AS peak_rms,
           {stable_round_sql(
               dsum_sql("zcr") + " / COUNT(*)")} AS mean_zcr,
           CAST(MAX(CASE WHEN r = 1 THEN frame_idx END) AS INT)
             AS loudest_frame
    FROM rk GROUP BY media_id
    """,
    doc="Audio modality front-end: payload PCM framed into 64-sample "
        "windows every 32 samples inside one narrow mapInPandas pass, "
        "per-frame RMS energy + zero-crossing rate, rolled up per clip "
        "(frame count, mean/peak energy, mean ZCR, loudest frame by "
        "min(frame_idx) tie-break). The decode step is the documented "
        "MMSYN stub; the framing/feature math and the Arrow batch "
        "plumbing are real. Payloads never shuffle — only per-frame "
        "scalar rows reach the clip-level groupBy. Driver-hash-gated "
        "against a closed-form PCM/framing re-derivation.",
)
def mm04_audio_frame_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mousedatapipeline_spark.operators.multimodal import (
        audio_frame_features,
    )
    docs = (load(spark, sf_dir, "documents").select("doc_id")
            .filter(F.col("doc_id") < 300))
    media = attach_synthetic_media(docs, "doc_id")
    frames = audio_frame_features(media, frame_len=64, hop=32)
    n = F.count(F.lit(1))
    # min over (-rms, frame_idx) = loudest frame, lowest index on ties.
    loudest = F.min(F.struct((-F.col("rms")).alias("neg_rms"),
                             F.col("frame_idx")))
    return frames.groupBy("media_id").agg(
        n.cast("bigint").alias("n_frames"),
        stable_round(dsum("rms") / n.cast("double")).alias("mean_rms"),
        stable_round(F.max("rms")).alias("peak_rms"),
        stable_round(dsum("zcr") / n.cast("double")).alias("mean_zcr"),
        loudest["frame_idx"].alias("loudest_frame"))


@register(
    "mm05_scene_changes",
    # Full-value oracle: consecutive materialized frames differ only
    # in their 31-byte cycle offset, so mean |cur - prev| is an
    # integer absolute-difference sum over the SQL-regenerated body
    # divided by h*w (one identical rounding); the cut threshold
    # compares that bit-identical double in both engines.
    oracle=_media_sql_prelude(300, mt=2) + f""",
    fr AS (
      SELECT media_id, f,
             CASE WHEN f = 0 THEN 0.0
                  ELSE CAST(list_sum(
                    [abs(b[1 + ((f*31 + i) % blen)]
                         - b[1 + (((f-1)*31 + i) % blen)])
                     FOR i IN generate_series(0, h*w - 1)]) AS DOUBLE)
                    / (h*w) END AS diff
      FROM body, UNNEST(generate_series(0, nf - 1)) AS u(f)
    )
    SELECT media_id,
           CAST(COUNT(*) AS BIGINT) AS n_frames,
           CAST(SUM(CASE WHEN f > 0 AND diff > 40.0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_cuts,
           {stable_round_sql('MAX(diff)')} AS max_diff
    FROM fr GROUP BY media_id
    """,
    doc="Video shot-boundary detection: consecutive-frame mean "
        "absolute pixel difference inside one narrow mapInPandas pass "
        "(rolling frame pair only — a clip's frames never materialize "
        "together), cut flag per transition, rolled up per clip to "
        "(n_frames, n_cuts, max_diff). The segmentation primitive a "
        "video-curation pipeline runs before clip-level dedup. "
        "Driver-hash-gated against a closed-form frame-diff "
        "re-derivation.",
)
def mm05_scene_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mousedatapipeline_spark.operators.multimodal import scene_changes
    docs = (load(spark, sf_dir, "documents").select("doc_id")
            .filter(F.col("doc_id") < 300))
    media = attach_synthetic_media(docs, "doc_id")
    fr = scene_changes(media, threshold=40.0)
    return fr.groupBy("media_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_frames"),
        F.sum("is_cut").cast("bigint").alias("n_cuts"),
        stable_round(F.max("mean_abs_diff")).alias("max_diff"))


@register(
    "m15_kernel_flux_pipeline",
    oracle=None,  # numpy kernel upstream: rows-only; closed-form tests
    doc="Kernel->physics integration (SURVEY §7.2 step 4: kernels "
        "replace fixture-precomputed scalars): beam images -> U1-U4 "
        "coverage analysis -> A3 pixel-sum flux -> A4 per-batch max "
        "propagation (empty-beam proxy) -> P5 transmission ratio -> "
        "A1/A2 stacked stats per batch, ONE lazy plan. The kernel is "
        "the only Python stage; everything downstream is JVM window + "
        "aggregate exactly as in m01/m05.",
)
def m15_kernel_flux_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from mousedatapipeline_spark.functions.rounding import stable_round

    li = load(spark, sf_dir, "lineitem")
    keys = (li.filter(F.col("l_orderkey") < 200)
            .select(F.col("l_orderkey").alias("batch"),
                    F.col("l_linenumber").alias("repetition"))
            .distinct())

    def gen(batches):
        for pdf in batches:
            rows = []
            for rec in pdf.itertuples(index=False):
                img = _gaussian_image(int(rec.batch), int(rec.repetition))
                # Deterministic sample attenuation: repetition 1 plays
                # the empty-beam shot (full flux), higher repetitions
                # are increasingly attenuated sample shots — gives the
                # transmission ratio real (0, 1] structure to verify.
                img = img / (1.0 + 0.15 * (int(rec.repetition) - 1))
                rows.append({
                    "batch": rec.batch, "repetition": rec.repetition,
                    "image": img.ravel().tolist(), "height": _H, "width": _W,
                })
            yield pd.DataFrame(
                rows, columns=["batch", "repetition", "image",
                               "height", "width"])

    from pyspark.sql import types as T
    img_schema = T.StructType([
        T.StructField("batch", T.LongType()),
        T.StructField("repetition", T.IntegerType()),
        T.StructField("image", T.ArrayType(T.DoubleType())),
        T.StructField("height", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
    ])
    stats = beam_analysis(keys.mapInPandas(gen, img_schema))
    # A3 flux = total_intensity; A4: per-batch max flux is the
    # empty-beam proxy; P5: transmission = flux / max-flux.
    w = Window.partitionBy("batch")
    withtr = stats.select(
        "batch", "repetition",
        F.col("total_intensity").alias("flux"),
        (F.col("total_intensity") / F.max("total_intensity").over(w))
        .alias("transmission"))
    n = F.count(F.lit(1))
    return withtr.groupBy("batch").agg(
        n.cast("bigint").alias("n_repetitions"),
        stable_round(dsum("flux") / n.cast("double"), 4)
        .alias("mean_flux"),
        stable_round(dsum("transmission") / n.cast("double"), 4)
        .alias("mean_transmission"),
        stable_round(F.min("transmission"), 4).alias("min_transmission"))


# --------------------------------------------------------------------------
# Contract twins for the two genuinely non-SQL kernel pipelines (the
# q33 pattern: emit the closed-form CONTRACT as integer flags against
# an all-ones expected table). u01/m15 stay rows-only — their
# eigendecomposition/ellipse arithmetic has no SQL twin — but these
# queries put the whole kernel chain under the driver hash gate: a
# broken centroid, sigma, coverage bisection, mask, flux sum or
# transmission ratio flips a flag (or the exact repetition census) and
# breaks the hash.
# --------------------------------------------------------------------------
@register(
    "u02_beam_contract",
    # The synthetic beams are closed-form Gaussians, so the kernel
    # outputs have known values up to discretization: measured worst
    # deviation across all keys is 0.0025 (centroid) / 0.0044 (sigma)
    # against a 0.05 tolerance — 10-20x margin, so the flags are
    # stable. Flags are computed ONLY Spark-side (no cross-engine
    # float comparison); coverage uses the bisection's >= guarantee,
    # preserved by stable_round's monotone rounding.
    oracle="""
    SELECT CAST(l_orderkey AS BIGINT) AS batch,
           CAST(l_linenumber AS INT) AS repetition,
           CAST(1 AS INT) AS com_y_ok, CAST(1 AS INT) AS com_x_ok,
           CAST(1 AS INT) AS sigma_ok, CAST(1 AS INT) AS cov_ok
    FROM (SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem
          WHERE l_orderkey < 200)
    """,
    doc="U1-U4 contract under the driver hash gate: per synthetic "
        "beam, the weighted centroid must sit within 0.05 px of the "
        "minted Gaussian's center, both sigmas within 0.05 of the "
        "minted sigma, and the bisection ellipse must actually cover "
        ">= 99.7% of intensity — emitted as integer flags against an "
        "all-ones oracle (the q33 sketch-contract pattern applied to "
        "the image kernels).",
)
def u02_beam_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    u = u01_beam_analysis(spark, sf_dir)
    cy = 10.0 + (F.col("batch") % 12).cast("double")
    cx = 10.0 + (F.col("repetition") % 12).cast("double")
    sig = 1.5 + (F.col("batch") % 4).cast("double") * 0.5
    tol = 0.05
    return u.select(
        "batch", "repetition",
        (F.abs(F.col("com_y") - cy) <= tol).cast("int").alias("com_y_ok"),
        (F.abs(F.col("com_x") - cx) <= tol).cast("int").alias("com_x_ok"),
        ((F.abs(F.col("sigma_minor") - sig) <= tol)
         & (F.abs(F.col("sigma_major") - sig) <= tol))
        .cast("int").alias("sigma_ok"),
        (F.col("achieved_coverage") >= 0.997).cast("int").alias("cov_ok"))


@register(
    "m18_flux_contract",
    # Exact structural census + physical-sanity flags: the repetition
    # count per batch is integer-exact SQL (the kernel pipeline must
    # emit one stats row per (batch, repetition) key — a dropped or
    # duplicated image changes it); the transmission invariants
    # (0 < min <= mean <= 1, positive flux) pin P5/A4's ratio
    # direction (flux normalized by the batch-max empty-beam proxy).
    oracle="""
    SELECT CAST(l_orderkey AS BIGINT) AS batch,
           CAST(COUNT(DISTINCT l_linenumber) AS BIGINT) AS n_repetitions,
           CAST(1 AS INT) AS flux_pos, CAST(1 AS INT) AS trans_ok
    FROM lineitem WHERE l_orderkey < 200 GROUP BY l_orderkey
    """,
    doc="Kernel->physics pipeline contract under the driver hash "
        "gate: m15's per-batch row census must equal the distinct "
        "(batch, repetition) key count (integer-exact), flux must be "
        "positive, and transmissions must satisfy 0 < min <= mean "
        "<= 1 — the invariant structure of the batch-max-normalized "
        "ratio chain.",
)
def m18_flux_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = m15_kernel_flux_pipeline(spark, sf_dir)
    return m.select(
        "batch", "n_repetitions",
        (F.col("mean_flux") > 0).cast("int").alias("flux_pos"),
        ((F.col("min_transmission") > 0)
         & (F.col("min_transmission") <= F.col("mean_transmission"))
         & (F.col("mean_transmission") <= 1.0))
        .cast("int").alias("trans_ok"))


@register(
    "u03_mask_contract",
    # Integer-EXACT lattice census, not a tolerance flag: for integer
    # center/radius every pixel's d² <= r² comparison is exact integer
    # arithmetic in both engines, so the disk's pixel count and its
    # row/column extents are reproduced verbatim by the DuckDB
    # generate_series census — a stronger gate than the Gauss-circle
    # area bound. Keys mint clipped AND unclipped disks (centers near
    # the borders), so the shape-bounds clipping path is gated too.
    oracle="""
    WITH k AS (
      SELECT CAST(n_nationkey AS BIGINT) AS key,
             5 + (n_nationkey * 7) % 48 AS cy,
             3 + (n_nationkey * 11) % 40 AS cx,
             4 + n_nationkey % 13 AS r
      FROM nation
    ),
    cells AS (
      SELECT key,
             CAST(gy.y AS BIGINT) AS y, CAST(gx.x AS BIGINT) AS x
      FROM k,
           UNNEST(generate_series(0, 47)) AS gy(y),
           UNNEST(generate_series(0, 39)) AS gx(x)
      WHERE (gy.y - cy) * (gy.y - cy) + (gx.x - cx) * (gx.x - cx)
            <= r * r
    )
    SELECT key,
           CAST(COUNT(*) AS BIGINT) AS mask_area,
           CAST(COUNT(DISTINCT y) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT x) AS BIGINT) AS n_cols
    FROM cells GROUP BY key
    """,
    doc="U5/P12 circular-mask contract under the driver hash gate: 25 "
        "nation-keyed (center, radius) disks over a 48x40 frame — some "
        "clipped at the borders — run through kernels.circular_mask; "
        "the mask's pixel count and row/column extents must equal the "
        "exact integer lattice census DuckDB computes from the closed "
        "form (src/processstep_make_beam_mask.py:27-35). Completes "
        "driver coverage of the kernel family (VERDICT r05 task 3).",
)
def u03_mask_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mousedatapipeline_spark.functions import kernels as K

    keys = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("bigint").alias("key"))

    def gen(batches):
        for pdf in batches:
            rows = []
            for key in pdf["key"]:
                k = int(key)
                cy, cx, r = 5 + (k * 7) % 48, 3 + (k * 11) % 40, 4 + k % 13
                m = K.circular_mask((48, 40), (float(cy), float(cx)),
                                    float(r))
                rows.append({
                    "key": k, "mask_area": int(m.sum()),
                    "n_rows": int(m.any(axis=1).sum()),
                    "n_cols": int(m.any(axis=0).sum()),
                })
            yield pd.DataFrame(
                rows, columns=["key", "mask_area", "n_rows", "n_cols"])

    return keys.mapInPandas(
        gen, "key bigint, mask_area bigint, n_rows bigint, n_cols bigint")


@register(
    "mm06_media_dedup_clusters",
    # Same end-to-end gate as mm03: payloads are a pure function of
    # doc_id % 150, so the component structure is known — each key's
    # doc set is one cluster, canonical = min id. A broken kernel,
    # band join, or component loop all perturb the clusters.
    oracle="""
    WITH m AS (SELECT doc_id, doc_id % 150 AS k FROM documents
               WHERE doc_id < 300),
    g AS (SELECT k, CAST(MIN(doc_id) AS BIGINT) AS comp,
                 CAST(COUNT(*) AS BIGINT) AS n_members
          FROM m GROUP BY k)
    SELECT m.doc_id AS media_id, g.comp AS component_id, g.n_members,
           CAST(m.doc_id = g.comp AS INT) AS is_canonical
    FROM m JOIN g ON m.k = g.k
    """,
    doc="Media dedup END TO END: aHash kernel -> exact-hash dedup "
        "(duplicate mass collapses in one shuffle, the c06 funnel) -> "
        "banded LSH over DISTINCT hashes -> linear star/rep-rep edges "
        "-> connected components -> one canonical asset per cluster "
        "(s14's rollup applied to media). The full LAION-style image "
        "dedup pass: what survives is the min-id representative of "
        "each perceptual-duplicate cluster. Payloads never leave the "
        "hash kernel; the component loop iterates 8-byte hash edges "
        "whose mass is <= |media| + |hash pairs| under any skew.",
)
def mm06_media_dedup_clusters(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    from mousedatapipeline_spark.operators.graph import (
        connected_components,
    )
    from mousedatapipeline_spark.operators.multimodal import (
        ahash_media,
        phash_neardup_edges,
    )
    docs = (load(spark, sf_dir, "documents").select("doc_id")
            .filter(F.col("doc_id") < 300)
            .withColumn("payload_key", F.col("doc_id") % 150))
    media = attach_synthetic_media(docs, "doc_id", key_col="payload_key")
    # Linear-mass edges (star within exact-hash groups + one rep-rep
    # edge per near-dup hash pair) — provably the same components as
    # the full pair set, without ever enumerating |group|^2 pairs: the
    # cluster consumer is exactly where duplicate mass explodes, so it
    # gets the c06 funnel shape, not the pair-list surface.
    edges = phash_neardup_edges(ahash_media(media), max_hamming=3)
    nodes = docs.select(F.col("doc_id").alias("media_id"))
    cc = connected_components(nodes, edges,
                              "media_id", "d1", "d2")
    sizes = cc.groupBy("component_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members"))
    return (cc.join(sizes, "component_id")
            .select("media_id", "component_id", "n_members",
                    (F.col("media_id") == F.col("component_id"))
                    .cast("int").alias("is_canonical")))


@register(
    "mm07_audio_neardup",
    # Minted-key oracle, mm03's trick on the audio modality: payloads
    # are pure functions of doc_id % 150, media_type is key % 3
    # (audio = 1), so the expected pair set is exactly the same-key
    # AUDIO pairs at hamming 0 — kernel, banded LSH, and verify are
    # all on the hook for the hash to match.
    oracle="""
    WITH m AS (SELECT doc_id, doc_id % 150 AS k FROM documents
               WHERE doc_id < 300 AND (doc_id % 150) % 3 = 1)
    SELECT a.doc_id AS d1, b.doc_id AS d2, CAST(0 AS INT) AS hamming
    FROM m a JOIN m b ON a.k = b.k AND a.doc_id < b.doc_id
    """,
    doc="Audio near-dup: 64-bit sign-pattern fingerprint per clip "
        "(zero-crossing structure of the first samples — gain-"
        "invariant, the audio analogue of the image aHash) through "
        "the SAME banded-LSH + "
        "bit_count verify stages as mm03 — one near-dup machine, two "
        "modalities. Payloads never leave the kernel; only 8-byte "
        "fingerprints reach the relational stages.",
)
def mm07_audio_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mousedatapipeline_spark.operators.multimodal import (
        audio_fingerprint,
        phash_neardup_pairs,
    )
    docs = (load(spark, sf_dir, "documents").select("doc_id")
            .filter(F.col("doc_id") < 300)
            .withColumn("payload_key", F.col("doc_id") % 150))
    media = attach_synthetic_media(docs, "doc_id", key_col="payload_key")
    return phash_neardup_pairs(audio_fingerprint(media), max_hamming=3)


@register(
    "mm08_audio_framing_census",
    # The framing loop's arithmetic is a pure function of the minted
    # payload key: body_len = 64 + (k % 13) * 16 bytes -> n_samples =
    # body_len / 2 int16s -> 64-sample windows every 32 samples (one
    # short frame when the clip is under a window). The oracle derives
    # those counts in SQL, so the driver hash gates the kernel's
    # hop/window arithmetic — the classic off-by-one surface of every
    # framing loop — while mm04 keeps the float feature stats under
    # closed-form tests.
    oracle="""
    WITH m AS (
      SELECT doc_id, doc_id % 150 AS k FROM documents
      WHERE doc_id < 300 AND (doc_id % 150) % 3 = 1
    ),
    d AS (
      SELECT doc_id AS media_id,
             32 + (k % 13) * 8 AS ns
      FROM m
    )
    SELECT media_id,
           CAST(CASE WHEN ns < 64 THEN 1
                     ELSE (ns - 64) // 32 + 1 END AS BIGINT) AS n_frames,
           CAST(CASE WHEN ns < 64 THEN ns
                     ELSE ((ns - 64) // 32 + 1) * 64 END AS BIGINT)
             AS sum_samples
    FROM d
    """,
    doc="Audio framing census: per clip, the frame count and total "
        "framed samples produced by the mm04 kernel (64-sample "
        "windows, 32-sample hop, one short frame under a window) — "
        "driver-hash-gated against the closed-form framing arithmetic "
        "of the minted payloads. Catches hop/window off-by-ones that "
        "float-feature checks cannot pin.",
)
def mm08_audio_framing_census(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    from mousedatapipeline_spark.operators.multimodal import (
        audio_frame_features,
    )
    docs = (load(spark, sf_dir, "documents").select("doc_id")
            .filter(F.col("doc_id") < 300)
            .withColumn("payload_key", F.col("doc_id") % 150))
    media = attach_synthetic_media(docs, "doc_id", key_col="payload_key")
    frames = audio_frame_features(media, frame_len=64, hop=32)
    return frames.groupBy("media_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_frames"),
        F.sum("n_samples").cast("bigint").alias("sum_samples"))


@register(
    "mm09_video_neardup",
    # Minted-key oracle for the video modality (keys k % 3 = 2): two
    # clips share >= 2 distinct sampled-frame hashes iff they carry
    # the same payload key — every video has >= 4 frames (>= 2
    # sampled), identical payloads hash identically frame by frame,
    # and cross-key frame-hash collisions do not occur on the fixed
    # minted payload set (64-bit hashes).
    oracle="""
    WITH m AS (SELECT doc_id, doc_id % 150 AS k FROM documents
               WHERE doc_id < 300 AND (doc_id % 150) % 3 = 2)
    SELECT a.doc_id AS d1, b.doc_id AS d2
    FROM m a JOIN m b ON a.k = b.k AND a.doc_id < b.doc_id
    """,
    doc="Video near-dup — the modality triplet's third leg (image "
        "mm03, audio mm07): every 2nd frame aHashed in one narrow "
        "kernel pass, clips joined on shared frame hashes (inverted "
        "index, bounded by shared mass — the shot-level analogue of "
        "the t21 chunk join, with a hot_cell_guard budget on the "
        "per-hash bucket and the kernel output eager-checkpointed so "
        "payloads decode once), pairs kept at >= 2 distinct shared "
        "frames. Payloads never shuffle; only 8-byte frame hashes "
        "reach the join.",
)
def mm09_video_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mousedatapipeline_spark.operators.multimodal import (
        video_neardup_pairs,
    )
    docs = (load(spark, sf_dir, "documents").select("doc_id")
            .filter(F.col("doc_id") < 300)
            .withColumn("payload_key", F.col("doc_id") % 150))
    media = attach_synthetic_media(docs, "doc_id", key_col="payload_key")
    return video_neardup_pairs(media, every_k=2, min_shared=2)


@register(
    "mm10_modality_census",
    # Closed-form metadata oracle: every meta field is key arithmetic
    # (type = k % 3, frames = 1 or 4 + k % 9, body = 64 + (k % 13) * 16
    # bytes) — the census gates the attach/decode METADATA path the
    # way mm08 gates the framing path.
    oracle="""
    WITH m AS (
      SELECT doc_id, doc_id % 150 AS k FROM documents WHERE doc_id < 300
    ),
    d AS (
      SELECT CASE k % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                        ELSE 'video' END AS media_type,
             CASE WHEN k % 3 = 0 THEN 1 ELSE 4 + k % 9 END AS n_frames,
             64 + (k % 13) * 16 AS n_bytes
      FROM m
    )
    SELECT media_type,
           CAST(COUNT(*) AS BIGINT) AS n_assets,
           CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
           CAST(SUM(n_frames) AS BIGINT) AS total_frames,
           CAST(MAX(n_frames) AS BIGINT) AS max_frames
    FROM d GROUP BY media_type
    """,
    doc="Modality census — the first table any media-corpus triage "
        "produces: per media type, asset count, payload bytes, and "
        "frame totals, read from the typed metadata struct without "
        "touching payload bodies (the meta column exists precisely so "
        "planning queries never decode). Driver-hash-gated against "
        "the minted-key closed form, so the attach/decode metadata "
        "plumbing is verified end to end.",
)
def mm10_modality_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (load(spark, sf_dir, "documents").select("doc_id")
            .filter(F.col("doc_id") < 300)
            .withColumn("payload_key", F.col("doc_id") % 150))
    media = attach_synthetic_media(docs, "doc_id", key_col="payload_key")
    return (media.select(
        F.col("meta.media_type").alias("media_type"),
        F.col("meta.n_frames").alias("n_frames"),
        (F.length("payload") - 21).alias("n_bytes"))  # magic+header=21
        .groupBy("media_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_assets"),
             F.sum("n_bytes").cast("bigint").alias("total_bytes"),
             F.sum("n_frames").cast("bigint").alias("total_frames"),
             F.max("n_frames").cast("bigint").alias("max_frames")))
