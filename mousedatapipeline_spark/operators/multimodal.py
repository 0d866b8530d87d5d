"""Multimodal columns: image/audio/video as opaque binary payloads with
typed metadata, processed by Arrow-batched ``mapInPandas`` kernels.

Beyond-reference extension (SURVEY.md mandate): a 100 TB training-data
pipeline carries media as ``binary`` columns + a metadata struct, and
runs decode / feature-extract / frame-sample as vectorized Python
kernels. The decode libraries (PIL, ffmpeg, ...) are NOT in this
container, so the actual codec step is STUBBED — clearly marked below —
behind a deterministic synthetic format ("MMSYN"), while everything
Spark-side (schema, partitioning, UDF signatures, Arrow batch shape,
frame-index plumbing) is real and tested.

Scale notes: payloads never pass through a shuffle here — media rows
are processed where they land (mapInPandas is a narrow transformation);
only the small extracted-feature rows move. Partition sizing matters
more than usual: keep ``spark.sql.files.maxPartitionBytes`` at or below
128 MB so a partition of payloads fits executor memory.
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_META = T.StructType([
    T.StructField("media_type", T.StringType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("n_frames", T.IntegerType()),
    T.StructField("sample_rate", T.IntegerType()),
])

MEDIA_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("payload", T.BinaryType()),
    T.StructField("meta", MEDIA_META),
])

_MAGIC = b"MMSYN"
_TYPES = ("image", "audio", "video")


def synth_payload(media_id: int) -> tuple[bytes, dict]:
    """Deterministic synthetic media blob: 5-byte magic, packed header,
    then md5-keystream bytes. Stands in for real codec output so the
    binary-column plumbing is testable without decode libraries.

    The keystream chains md5 over HEX STRINGS (digest i+1 = md5 of the
    ASCII hexdigest of digest i; body bytes are the unhexed digests):
    deterministic like any hash chain, but reproducible in plain SQL
    with only md5(varchar) — which is what lets the mm01/mm02/mm04/
    mm05 kernel outputs be driver-hash-gated against closed-form
    DuckDB oracles (a binary digest chain would need md5(blob), which
    SQL engines commonly lack)."""
    mtype = _TYPES[media_id % 3]
    width = 16 + (media_id % 7) * 8
    height = 16 + (media_id % 5) * 8
    n_frames = 1 if mtype == "image" else 4 + media_id % 9
    rate = 16000 if mtype == "audio" else 0
    body_len = 64 + (media_id % 13) * 16
    stream = b""
    # 'm' seed prefix: chosen (searched) so the minted payload set has
    # no cross-key frame/fingerprint hash collisions — the property
    # the mm03/mm06/mm07/mm09 same-key-pair oracles pin.
    seed = f"m{media_id}"
    while len(stream) < body_len:
        seed = hashlib.md5(seed.encode()).hexdigest()
        stream += bytes.fromhex(seed)
    header = struct.pack("<IIII", width, height, n_frames, rate)
    meta = {"media_type": mtype, "width": width, "height": height,
            "n_frames": n_frames, "sample_rate": rate}
    return _MAGIC + header + stream[:body_len], meta


def attach_synthetic_media(df: DataFrame, id_col: str,
                           key_col: str | None = None) -> DataFrame:
    """Attach (payload, meta) columns derived deterministically from an
    id column — the test stand-in for a real media-file scan
    (spark.read.format('binaryFile') in production).

    ``key_col``: optional column the payload bytes derive from instead
    of ``id_col`` (media_id stays ``id_col``) — lets tests mint
    distinct rows carrying duplicate payloads.
    """
    if key_col == id_col:
        key_col = None  # duplicate select would break the pandas zip
    kc = key_col or id_col
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, key in zip(pdf[id_col], pdf[kc]):
                payload, meta = synth_payload(int(key))
                rows.append({"media_id": int(mid), "payload": payload,
                             "meta": meta})
            yield pd.DataFrame(rows, columns=["media_id", "payload", "meta"])

    cols = [F.col(id_col).cast("long").alias(id_col)]
    if key_col:
        cols.append(F.col(key_col).cast("long").alias(key_col))
    return df.select(*cols).mapInPandas(gen, MEDIA_SCHEMA)


def decode_payload(payload: bytes) -> dict:
    """Parse one payload's header + body bytes.

    STUB BOUNDARY: real formats (JPEG/PNG/WAV/MP4) would be decoded
    here with PIL/soundfile/ffmpeg; those libraries are not available
    in this environment, so only the synthetic MMSYN format is
    implemented and anything else raises NotImplementedError.
    """
    if not payload.startswith(_MAGIC):
        raise NotImplementedError(
            "real media decoding (JPEG/PNG/WAV/...) requires codec "
            "libraries not present in this environment")
    width, height, n_frames, rate = struct.unpack_from("<IIII", payload, 5)
    body = np.frombuffer(payload[5 + 16:], dtype=np.uint8)
    return {"width": width, "height": height, "n_frames": n_frames,
            "sample_rate": rate, "body": body}


FEATURE_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("media_type", T.StringType()),
    T.StructField("n_bytes", T.LongType()),
    T.StructField("histogram", T.ArrayType(T.DoubleType())),
    T.StructField("mean_byte", T.DoubleType()),
])


def extract_features(media: DataFrame, n_bins: int = 16) -> DataFrame:
    """Decode + featurize each payload: 16-bin byte histogram
    (normalized) and mean byte value. The histogram math is the
    deterministic stand-in for an embedding model; the Arrow plumbing
    (binary in, fixed-length vector out) is exactly what a real encoder
    kernel uses."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rec in pdf.itertuples(index=False):
                d = decode_payload(bytes(rec.payload))
                body = d["body"]
                hist = np.bincount(body // (256 // n_bins),
                                   minlength=n_bins).astype("float64")
                hist /= max(len(body), 1)
                rows.append({
                    "media_id": rec.media_id,
                    "media_type": rec.meta["media_type"],
                    "n_bytes": len(body),
                    "histogram": hist.tolist(),
                    "mean_byte": float(body.mean()) if len(body) else 0.0,
                })
            yield pd.DataFrame(rows, columns=[f.name for f in FEATURE_SCHEMA])

    return media.mapInPandas(run, FEATURE_SCHEMA)


def frame_indices(n_frames_col, every_k: int = 2):
    """Frame-sampling plumbing: indices [0, k, 2k, ...) as a JVM-side
    array expression — the selection logic stays in Catalyst; only the
    per-frame decode (stubbed) would enter Python."""
    return F.filter(
        F.sequence(F.lit(0), n_frames_col - 1),
        lambda i: i % every_k == 0)


RESIZE_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("frame_idx", T.IntegerType()),
    T.StructField("out_width", T.IntegerType()),
    T.StructField("out_height", T.IntegerType()),
    T.StructField("mean_px", T.DoubleType()),
    T.StructField("frame_fp", T.LongType()),
])

_FP_P = 2147483647  # 2^31 - 1: acc*257 + 255 < 2^40, no BIGINT wrap


def frame_fingerprint(pixels: np.ndarray) -> int:
    """Polynomial (Rabin-style) checksum of a pixel buffer, row-major:
    acc = (acc*257 + byte) mod 2^31-1. Modulo-first so the identical
    fold is expressible in any SQL engine's 64-bit integers — the
    resized-frame content check the mm02 oracle reproduces exactly
    (an md5 here would need md5(blob), which SQL engines lack)."""
    fp = 0
    for b in pixels.ravel().tolist():
        fp = (fp * 257 + int(b)) % _FP_P
    return fp


def materialize_frame(d: dict, frame_idx: int) -> np.ndarray:
    """Deterministic (height, width) uint8 frame from a decoded payload:
    body bytes cycled with a per-frame offset. Stands in for the pixel
    plane a real codec would emit; everything downstream (resize,
    checksum) operates on it exactly as it would on real pixels."""
    h, w = d["height"], d["width"]
    body = d["body"]
    idx = (frame_idx * 31 + np.arange(h * w)) % max(len(body), 1)
    return body[idx].reshape(h, w)


def resize_nearest(frame: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Nearest-neighbor resize by integer index mapping — pure numpy,
    no codec dependency, exact and deterministic."""
    h, w = frame.shape
    ys = (np.arange(out_h) * h) // out_h
    xs = (np.arange(out_w) * w) // out_w
    return frame[ys][:, xs]


def resize_frames(media: DataFrame, out_w: int, out_h: int,
                  every_k: int = 2) -> DataFrame:
    """Decode -> frame-sample (every k-th frame) -> nearest-neighbor
    resize -> per-frame stats, one Arrow batch at a time.

    Output is one row per SAMPLED frame: at 100 TB the payload column
    never shuffles (mapInPandas is narrow); only the small per-frame
    stat rows continue downstream. The frame loop lives inside the
    kernel so a video's frames never materialize simultaneously."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rec in pdf.itertuples(index=False):
                d = decode_payload(bytes(rec.payload))
                for f in range(0, d["n_frames"], every_k):
                    out = resize_nearest(materialize_frame(d, f),
                                         out_w, out_h)
                    rows.append({
                        "media_id": rec.media_id,
                        "frame_idx": f,
                        "out_width": out_w,
                        "out_height": out_h,
                        "mean_px": float(out.mean()),
                        "frame_fp": frame_fingerprint(out),
                    })
            yield pd.DataFrame(rows,
                               columns=[f.name for f in RESIZE_SCHEMA])

    return media.mapInPandas(run, RESIZE_SCHEMA)


AHASH_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("ahash", T.LongType()),
])

AHASH_BANDS = 4  # 4 x 16-bit bands: pigeonhole-complete for hamming <= 3


def ahash_kernel(frame: np.ndarray) -> int:
    """Average-hash of one pixel plane: resize to 8x8, threshold at the
    mean, pack the 64 bits row-major into a signed int64. Pure numpy —
    deterministic, codec-free."""
    small = resize_nearest(frame, 8, 8)
    bits = (small >= small.mean()).astype(np.uint8).ravel()
    return int.from_bytes(np.packbits(bits).tobytes(), "big", signed=True)


def ahash_media(media: DataFrame) -> DataFrame:
    """(media_id, ahash): perceptual hash of frame 0 of every payload,
    one narrow Arrow pass (payloads never shuffle — only the 8-byte
    hash continues into the relational near-dup stages)."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rec in pdf.itertuples(index=False):
                d = decode_payload(bytes(rec.payload))
                rows.append({
                    "media_id": rec.media_id,
                    "ahash": ahash_kernel(materialize_frame(d, 0)),
                })
            yield pd.DataFrame(rows, columns=["media_id", "ahash"])

    return media.mapInPandas(run, AHASH_SCHEMA)


def ahash_band(hash_col: F.Column, b: int) -> F.Column:
    """16-bit band ``b`` of a 64-bit hash as a JVM expression."""
    return F.shiftrightunsigned(hash_col, 16 * b).bitwiseAND(F.lit(0xFFFF))


def _distinct_hash_pairs(dh: DataFrame, max_hamming: int,
                         max_bucket: int | None) -> DataFrame:
    """(h1, h2, hamming): near-dup pairs among DISTINCT 64-bit hash
    values (column ``ahash``) via banded LSH.

    Two hashes within hamming d < AHASH_BANDS agree on >= one 16-bit
    band (pigeonhole), so the self-join runs per band bucket — over
    distinct hash VALUES only, never media rows: duplicate media mass
    has already collapsed in the caller's exact stage, exactly like
    c06's exact-dedup-before-LSH funnel. The (band, value) bucket
    carries a ``hot_cell_guard`` budget (the text side's precedent,
    operators/similarity.py) so a hash collapse becomes a loud raise,
    not a runaway quadratic stage; identity when under budget, so the
    mm oracles need no SQL mirror (the raise never fires on
    oracle-compared rows — the same contract as the IVF guard, pinned
    by tests instead). The guarded band table is eager-checkpointed:
    both self-join sides read ONE materialization (a lazy checkpoint
    cannot serve the second side inside the one materializing job).
    """
    from mousedatapipeline_spark.operators.similarity import (
        hot_cell_guard,
    )
    if not 0 <= max_hamming < AHASH_BANDS:
        raise ValueError(
            f"max_hamming={max_hamming} outside the {AHASH_BANDS}-band "
            f"scheme's completeness bound (hamming < {AHASH_BANDS}: "
            "pigeonhole needs one untouched band) — a larger radius "
            "silently loses recall; add bands instead")
    bands = dh.select(
        "ahash",
        F.explode(F.array(*[
            (F.lit(b * 65536) + ahash_band(F.col("ahash"), b))
            for b in range(AHASH_BANDS)])).alias("cell"))
    bands = (hot_cell_guard(
                 bands, max_bucket, what="phash_band_bucket",
                 hint="a degenerate hash (black frames, blank images) "
                      "is flooding one band bucket; drop it upstream "
                      "or raise the budget")
             .localCheckpoint(eager=True))
    a = bands.select(F.col("ahash").alias("h1"), "cell")
    b = bands.select(F.col("ahash").alias("h2"), "cell")
    ham = F.bit_count(F.col("h1").bitwiseXOR(F.col("h2")))
    return (a.join(b, "cell")
            .filter(F.col("h1") < F.col("h2"))
            .select("h1", "h2")
            .distinct()
            .withColumn("hamming", ham.cast("int"))
            .filter(F.col("hamming") <= max_hamming))


def phash_neardup_pairs(hashes: DataFrame, max_hamming: int = 3,
                        max_bucket: int | None = None,
                        max_group: int | None = None) -> DataFrame:
    """(d1, d2, hamming): media pairs whose aHashes differ in at most
    ``max_hamming`` bits.

    The c06 dedup-funnel shape applied to media (VERDICT r08 item 1):

    1. **Decode once** — the hash-kernel output is eager-checkpointed,
       so payloads are decoded exactly once no matter how many stages
       read the hashes (a lazy checkpoint re-runs the kernel for every
       consumer inside the one materializing job — measured on the
       text side, s35/s37).
    2. **Exact stage first** — identical hashes (re-posted images,
       black frames) collapse to distinct hash VALUES in one hash
       shuffle before any banding; duplicate media mass never reaches
       the band join.
    3. **Banded LSH over distinct hashes** with an exact
       bit_count(xor) verify (:func:`_distinct_hash_pairs`), hot-bucket
       budget on the (band, value) bucket.
    4. **Pair expansion** — hash-pair hits expand back to media pairs;
       same-hash groups expand to their hamming-0 pairs. Both
       expansions are inherent OUTPUT mass for a pair-list surface and
       are guarded by ``max_group`` (default ``similarity.MAX_CELL``):
       a duplicate group bigger than the budget raises loudly — at
       that scale the pair list is enumeration-bound by its own size
       and the production surface is :func:`phash_neardup_edges` /
       mm06's cluster rollup (the s02 -> c06 relationship).

    All stages after the hash kernel are JVM bit arithmetic.
    """
    from mousedatapipeline_spark.operators.similarity import (
        MAX_CELL,
        hot_cell_guard,
    )
    if max_bucket is None:
        max_bucket = MAX_CELL
    if max_group is None:
        max_group = MAX_CELL
    h = hashes.localCheckpoint(eager=True)  # decode runs exactly once
    mem = (hot_cell_guard(
               h.select("media_id", F.col("ahash").alias("cell")),
               max_group, what="phash_hash_group",
               hint="the pair-list surface is enumeration-bound past "
                    "this group size; use phash_neardup_edges / the "
                    "mm06 cluster funnel (the s02 -> c06 relationship) "
                    "or raise the budget")
           .select("media_id", F.col("cell").alias("ahash"))
           # Pin the RESULT: m1/m2 and both same/cross branches read
           # this four times — without its own eager checkpoint the
           # guard aggregation + error-check join re-runs per consumer
           # (ADVICE r09; the decode kernel was already pinned by h).
           .localCheckpoint(eager=True))
    hp = _distinct_hash_pairs(h.select("ahash").distinct(),
                              max_hamming, max_bucket)
    m1 = mem.select(F.col("media_id").alias("i1"),
                    F.col("ahash").alias("h1"))
    m2 = mem.select(F.col("media_id").alias("i2"),
                    F.col("ahash").alias("h2"))
    # Cross-hash pairs: every member pair of a near-dup hash pair, at
    # that hash pair's hamming. Same-hash pairs: hamming 0 by
    # definition. The two branches re-read only the cheap guard join
    # over the EAGER checkpoint — never the decode kernel.
    cross = (hp.join(m1, "h1").join(m2, "h2")
             .select(F.least("i1", "i2").alias("d1"),
                     F.greatest("i1", "i2").alias("d2"), "hamming"))
    same = (m1.join(m2, F.col("h1") == F.col("h2"))
            .filter(F.col("i1") < F.col("i2"))
            .select(F.col("i1").alias("d1"), F.col("i2").alias("d2"),
                    F.lit(0).cast("int").alias("hamming")))
    return cross.union(same)


def phash_neardup_edges(hashes: DataFrame, max_hamming: int = 3,
                        max_bucket: int | None = None) -> DataFrame:
    """(d1, d2): a LINEAR-mass edge list whose connected components
    equal those of :func:`phash_neardup_pairs`' full pair set — the
    production near-dup surface for cluster consumers (mm06).

    Exact-hash groups contribute a STAR (min-id representative to each
    other member: |group| - 1 edges, never |group|^2 / 2) and each
    near-dup DISTINCT-hash pair contributes ONE rep-rep edge. Hamming
    depends only on the hash values, so any member pair across two
    groups is near-dup iff the reps are — components are provably
    identical while edge mass stays <= |media| + |hash pairs| under
    ANY duplicate skew. This is the same exact-dedup-first funnel as
    c06 (plans/curation_queries.py): duplicate mass collapses in one
    hash shuffle; only distinct hashes reach the banded stage.
    """
    from mousedatapipeline_spark.operators.similarity import MAX_CELL
    if max_bucket is None:
        max_bucket = MAX_CELL
    h = hashes.localCheckpoint(eager=True)  # decode runs exactly once
    groups = (h.groupBy("ahash").agg(F.min("media_id").alias("rep"))
              .localCheckpoint(eager=True))  # star + bands + two rep
    # lookups below: four consumers, one materialization
    star = (h.join(groups, "ahash")
            .filter(F.col("media_id") != F.col("rep"))
            .select(F.col("rep").alias("d1"),
                    F.col("media_id").alias("d2")))
    hp = _distinct_hash_pairs(groups.select("ahash"),
                              max_hamming, max_bucket)
    r1 = groups.select(F.col("ahash").alias("h1"),
                       F.col("rep").alias("r1"))
    r2 = groups.select(F.col("ahash").alias("h2"),
                       F.col("rep").alias("r2"))
    cross = (hp.join(r1, "h1").join(r2, "h2")
             .select(F.least("r1", "r2").alias("d1"),
                     F.greatest("r1", "r2").alias("d2")))
    return star.union(cross)


AUDIO_FRAME_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("frame_idx", T.IntegerType()),
    T.StructField("n_samples", T.IntegerType()),
    T.StructField("rms", T.DoubleType()),
    T.StructField("zcr", T.DoubleType()),
])


def pcm_samples(body: np.ndarray) -> np.ndarray:
    """Interpret payload body bytes as little-endian int16 PCM in
    [-1, 1). STUB BOUNDARY: a real pipeline decodes WAV/FLAC/OGG here
    (soundfile/ffmpeg — not in this container); the synthetic MMSYN
    body IS the raw PCM, so the framing/feature math downstream is
    real."""
    raw = body[:len(body) - (len(body) % 2)].tobytes()
    return np.frombuffer(raw, dtype="<i2").astype(np.float64) / 32768.0


def audio_frame_features(media: DataFrame, frame_len: int = 64,
                         hop: int = 32) -> DataFrame:
    """Frame-sampled audio features via Arrow ``mapInPandas``: each
    audio clip's PCM stream is cut into ``frame_len``-sample windows
    every ``hop`` samples; per frame, RMS energy and zero-crossing
    rate — the canonical speech/VAD front-end features (and the shape
    any learned audio encoder consumes: [n_frames, d] per clip).

    Non-audio rows are dropped inside the kernel (no separate filter
    pass over the payload column). Scale: narrow transformation —
    payloads never shuffle; output rows are a few scalars per frame.
    """
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rec in pdf.itertuples(index=False):
                if rec.meta["media_type"] != "audio":
                    continue
                pcm = pcm_samples(decode_payload(bytes(rec.payload))["body"])
                for k, start in enumerate(
                        range(0, max(len(pcm) - frame_len, 0) + 1, hop)):
                    fr = pcm[start:start + frame_len]
                    if not len(fr):
                        continue
                    flips = np.signbit(fr[1:]) != np.signbit(fr[:-1])
                    rows.append({
                        "media_id": rec.media_id,
                        "frame_idx": k,
                        "n_samples": len(fr),
                        "rms": float(np.sqrt(np.mean(fr * fr))),
                        "zcr": (float(np.mean(flips))
                                if len(fr) > 1 else 0.0),
                    })
            yield pd.DataFrame(rows,
                               columns=[f.name for f in AUDIO_FRAME_SCHEMA])

    return media.mapInPandas(run, AUDIO_FRAME_SCHEMA)


SCENE_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("frame_idx", T.IntegerType()),
    T.StructField("mean_abs_diff", T.DoubleType()),
    T.StructField("is_cut", T.IntegerType()),
])


def scene_changes(media: DataFrame, threshold: float = 40.0) -> DataFrame:
    """Scene-change (shot-boundary) detection over video payloads: the
    mean absolute pixel difference between consecutive frames, flagged
    as a cut when it exceeds ``threshold`` (the classic frame-diff
    detector every clip-segmentation pipeline starts from). One row
    per frame transition; frame 0 anchors with diff 0.

    The frame pair loop lives inside one Arrow ``mapInPandas`` kernel —
    a clip's frames never materialize simultaneously beyond the
    rolling pair, and payloads never shuffle. Non-video rows are
    dropped in-kernel. Decode is the documented MMSYN stub; the
    differencing math is what runs on real pixel planes.
    """
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rec in pdf.itertuples(index=False):
                if rec.meta["media_type"] != "video":
                    continue
                d = decode_payload(bytes(rec.payload))
                prev = None
                for f in range(d["n_frames"]):
                    cur = materialize_frame(d, f).astype(np.float64)
                    diff = (0.0 if prev is None
                            else float(np.mean(np.abs(cur - prev))))
                    rows.append({
                        "media_id": rec.media_id,
                        "frame_idx": f,
                        "mean_abs_diff": diff,
                        "is_cut": int(prev is not None
                                      and diff > threshold),
                    })
                    prev = cur
            yield pd.DataFrame(rows,
                               columns=[f.name for f in SCENE_SCHEMA])

    return media.mapInPandas(run, SCENE_SCHEMA)


def audio_fingerprint_kernel(pcm: np.ndarray) -> int:
    """64-bit audio fingerprint: the sign pattern of the first 64 PCM
    samples packed row-major into a signed int64 (shorter clips pad
    with 0 bits). Sign structure is GAIN-INVARIANT — the same
    zero-crossing information :func:`audio_frame_features` summarizes
    as zcr — and one bit per sample keeps the fingerprint
    discriminative even for the very short clips where a per-frame
    energy profile collapses to a handful of bits (measured: 64-256
    byte clips yield <= 3 RMS frames, putting EVERY pair within
    hamming 3 of shared padding)."""
    bits = np.zeros(64, dtype=np.uint8)
    head = pcm[:64]
    if len(head):
        bits[:len(head)] = (head >= 0).astype(np.uint8)
    return int.from_bytes(np.packbits(bits).tobytes(), "big", signed=True)


def audio_fingerprint(media: DataFrame) -> DataFrame:
    """(media_id, ahash): sign-pattern (zero-crossing) fingerprint of
    every AUDIO payload —
    one narrow Arrow pass; non-audio rows drop inside the kernel. The
    output column is named ``ahash`` so the banded-LSH near-dup stage
    (:func:`phash_neardup_pairs`) applies unchanged."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rec in pdf.itertuples(index=False):
                if rec.meta["media_type"] != "audio":
                    continue
                pcm = pcm_samples(decode_payload(bytes(rec.payload))["body"])
                rows.append({
                    "media_id": rec.media_id,
                    "ahash": audio_fingerprint_kernel(pcm),
                })
            yield pd.DataFrame(rows, columns=["media_id", "ahash"])

    return media.mapInPandas(run, AHASH_SCHEMA)


FRAME_HASH_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("fhash", T.LongType()),
])


def video_frame_hashes(media: DataFrame, every_k: int = 2) -> DataFrame:
    """(media_id, fhash): aHash of every ``every_k``-th frame of each
    VIDEO payload — one narrow Arrow pass, one row per sampled frame.
    Non-video rows drop inside the kernel. The clip-level near-dup
    stage joins these on the hash (inverted index): clips sharing
    enough frame hashes are re-encodes/re-posts of the same footage."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rec in pdf.itertuples(index=False):
                if rec.meta["media_type"] != "video":
                    continue
                d = decode_payload(bytes(rec.payload))
                for f in range(0, d["n_frames"], every_k):
                    rows.append({
                        "media_id": rec.media_id,
                        "fhash": ahash_kernel(materialize_frame(d, f)),
                    })
            yield pd.DataFrame(rows, columns=["media_id", "fhash"])

    return media.mapInPandas(run, FRAME_HASH_SCHEMA)


def video_neardup_pairs(media: DataFrame, every_k: int = 2,
                        min_shared: int = 2,
                        max_bucket: int | None = None) -> DataFrame:
    """(d1, d2): video clips sharing >= ``min_shared`` distinct
    sampled-frame aHashes — re-encodes/re-posts of the same footage.

    Inverted-index join on the frame hash, hardened like the image
    path: the per-clip distinct frame-hash table (the decode-kernel
    output) is eager-checkpointed so payloads are decoded exactly once
    for both join sides, and the per-fhash bucket carries a
    ``hot_cell_guard`` budget — a hot frame hash (black frames, intro
    cards, duplicate-clip mass) raises loudly instead of going
    quadratic. Identity when under budget, so the mm09 oracle needs no
    SQL mirror (the IVF-guard contract, pinned by tests). Payloads
    never shuffle; only 8-byte frame hashes reach the join.
    """
    from mousedatapipeline_spark.operators.similarity import (
        MAX_CELL,
        hot_cell_guard,
    )
    if max_bucket is None:
        max_bucket = MAX_CELL
    fh = (video_frame_hashes(media, every_k=every_k).distinct()
          .localCheckpoint(eager=True))  # decode runs exactly once
    g = (hot_cell_guard(
             fh.select("media_id", F.col("fhash").alias("cell")),
             max_bucket, what="video_frame_bucket",
             hint="a hot frame hash (black/intro frames, duplicate "
                  "clip mass) is flooding one bucket; exact-dedup "
                  "clips first or raise the budget")
         .select("media_id", F.col("cell").alias("fhash")))
    a = g.select(F.col("media_id").alias("d1"), "fhash")
    b = g.select(F.col("media_id").alias("d2"), "fhash")
    return (a.join(b, "fhash")
            .filter(F.col("d1") < F.col("d2"))
            .groupBy("d1", "d2")
            .agg(F.count(F.lit(1)).alias("n_shared"))
            .filter(F.col("n_shared") >= min_shared)
            .select("d1", "d2"))
