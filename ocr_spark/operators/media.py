"""Multimodal media columns: opaque binary payloads + typed metadata.

Large-scale training pipelines carry image/audio/video as opaque
``binary`` columns with typed metadata alongside.  This module implements
the Spark-side plumbing — schemas, Arrow batch shapes, vectorized decode
UDFs, partitioning — with the codec layer split in two:

* **real**: images.  The fixture corpus's media is rendered
  deterministically, serialized with the npy wire format (numpy's own
  codec — no image libraries exist in this container), and decoded back
  inside ``mapInPandas``.  Resize is real nearest-neighbor numpy
  (contract: the reference's >960px downscale, obj_det/ocr_context.py:
  169-175, and the reference's letterbox_image, apphelper/image.py:
  141-157).
* **fixture container**: video ships as a REAL tiny container format
  (NVID1: magic / frame count / frame rate / length-prefixed frame
  records) that the kernel genuinely parses — only the 32-byte frame
  payloads are deterministic stand-ins for compressed pictures.  The
  Spark plumbing (binary column, batch iteration, 1->N flatMap, per-row
  isolation) is identical to what a pyav-backed decode would use.
"""

from __future__ import annotations

import hashlib
import io
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .pipeline import _default_partitions

THUMB_MAX_SIDE = 64

META_SCHEMA = (
    "media_ref string, n_pages int, width int, height int, "
    "n_bytes long, sha256 string"
)
THUMB_SCHEMA = (
    "media_ref string, width int, height int, thumb_w int, thumb_h int, "
    "thumb_mean double"
)
FRAME_SCHEMA = "media_ref string, frame_idx int, ts_ms long, frame_sha256 string"


def encode_image(img: np.ndarray) -> bytes:
    """ndarray -> npy bytes (the opaque binary payload)."""
    buf = io.BytesIO()
    np.save(buf, img, allow_pickle=False)
    return buf.getvalue()


def decode_image(payload: bytes) -> np.ndarray:
    """npy bytes -> ndarray; raises on corrupt payloads (caller isolates)."""
    return np.load(io.BytesIO(payload), allow_pickle=False)


def resize_max_side(img: np.ndarray, max_side: int) -> np.ndarray:
    """Nearest-neighbor resize so max(h, w) == max_side (aspect kept) —
    the reference's downscale contract; no-op when already smaller."""
    h, w = img.shape[:2]
    m = max(h, w)
    if m <= max_side:
        return img
    nh, nw = max(h * max_side // m, 1), max(w * max_side // m, 1)
    yi = (np.arange(nh) * h // nh).clip(0, h - 1)
    xi = (np.arange(nw) * w // nw).clip(0, w - 1)
    return img[yi][:, xi]


def media_binary(spark: SparkSession, sf_dir: str, mod: int = 20) -> DataFrame:
    """A (media_ref, payload binary) table: first page of a deterministic
    media_ref per sampled customer, payload = npy bytes."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    k = F.col("c_custkey")
    refs = cust.filter(k % mod == 0).select(
        F.concat(
            F.lit("img://m"), k.cast("string"), F.lit("/0#"),
            F.when(k % 2 == 0, F.lit("crop")).otherwise(F.lit("page")),
        ).alias("media_ref")
    )

    def _encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ocr_spark.fixtures.render import render

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_ref": pdf["media_ref"],
                    "payload": [
                        encode_image(render(r)[0].image) for r in pdf["media_ref"]
                    ],
                }
            )

    return refs.repartition(_default_partitions(spark)).mapInPandas(
        _encode, schema="media_ref string, payload binary"
    )


CAPTION_CORRUPT_MOD = 100  # sampled keys are %20==0; every 5th is corrupted
CAPTION_SCHEMA = (
    "media_ref string, width int, height int, ink_ppm bigint, "
    "claimed_w int, claimed_h int, claimed_ink_ppm bigint, "
    "is_consistent int"
)


def _image_stats(img: np.ndarray) -> tuple[int, int, int]:
    """(width, height, ink_ppm): ink is the fraction of sub-128 channel
    values in parts-per-million — integer-exact and shared verbatim by
    the caption fixture and the checking kernel."""
    h, w = img.shape[:2]
    ink_ppm = int((img < 128).sum()) * 1_000_000 // int(img.size)
    return w, h, ink_ppm


def captioned_binary(
    spark: SparkSession, sf_dir: str, mod: int = 20
) -> DataFrame:
    """(media_ref, payload, caption) — the captioned-image pair table of
    an image-text training corpus.  Captions are synthesized from the
    rendered image's TRUE stats ('scan WxH ink Pppm'); every
    ``CAPTION_CORRUPT_MOD``-th key claims a wrong width, giving the
    consistency checker a known planted defect rate."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    k = F.col("c_custkey")
    refs = cust.filter(k % mod == 0).select(
        k.cast("long").alias("key"),
        F.concat(
            F.lit("img://m"), k.cast("string"), F.lit("/0#"),
            F.when(k % 2 == 0, F.lit("crop")).otherwise(F.lit("page")),
        ).alias("media_ref"),
    )

    def _encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ocr_spark.fixtures.render import render

        for pdf in batches:
            payloads, captions = [], []
            for key, ref in zip(pdf["key"], pdf["media_ref"]):
                img = render(ref)[0].image
                payloads.append(encode_image(img))
                w, h, ink = _image_stats(img)
                if int(key) % CAPTION_CORRUPT_MOD == 0:
                    w += 7
                captions.append(f"scan {w}x{h} ink {ink}ppm")
            yield pd.DataFrame(
                {
                    "media_ref": pdf["media_ref"],
                    "payload": payloads,
                    "caption": captions,
                }
            )

    return refs.repartition(_default_partitions(spark)).mapInPandas(
        _encode, schema="media_ref string, payload binary, caption string"
    )


def caption_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-caption consistency check — the multimodal curation gate a
    captioned-image corpus runs before training (a caption that
    contradicts its image teaches the model to hallucinate): decode the
    REAL npy payload, recompute (width, height, ink density) from the
    pixels, parse the caption's claimed stats, and flag rows where any
    claim disagrees.  The planted fixture defect (wrong width on every
    ``CAPTION_CORRUPT_MOD``-th key) must be exactly the flagged set.

    Scale shape: decode + check are map-side (one mapInPandas over
    Arrow batches carrying the binary and string columns together — the
    canonical multimodal-row layout); no shuffle except the check-gate
    sort.  A CLIP-style learned alignment scorer slots in behind the
    same (payload, caption) -> score contract; the stats check is the
    deterministic stand-in the sandbox can verify bit-exactly."""
    import re

    binary = captioned_binary(spark, sf_dir)
    cap_re = re.compile(r"^scan (\d+)x(\d+) ink (\d+)ppm$")

    def _check(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for ref, payload, cap in zip(
                pdf["media_ref"], pdf["payload"], pdf["caption"]
            ):
                img = decode_image(bytes(payload))
                w, h, ink = _image_stats(img)
                m = cap_re.match(cap)
                cw, ch, cink = (
                    (int(m.group(1)), int(m.group(2)), int(m.group(3)))
                    if m
                    else (-1, -1, -1)
                )
                rows.append(
                    (
                        ref, w, h, ink, cw, ch, cink,
                        int((w, h, ink) == (cw, ch, cink)),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_ref", "width", "height", "ink_ppm",
                    "claimed_w", "claimed_h", "claimed_ink_ppm",
                    "is_consistent",
                ],
            )

    return (
        binary.mapInPandas(_check, schema=CAPTION_SCHEMA)
        .repartition(1)
        .sortWithinPartitions("media_ref")
    )


def media_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode the binary payloads and emit typed metadata — the canonical
    'image column' scan stage."""
    binary = media_binary(spark, sf_dir)

    def _meta(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for ref, payload in zip(pdf["media_ref"], pdf["payload"]):
                img = decode_image(bytes(payload))
                rows.append(
                    (
                        ref,
                        1,
                        int(img.shape[1]),
                        int(img.shape[0]),
                        len(payload),
                        hashlib.sha256(bytes(payload)).hexdigest(),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_ref", "n_pages", "width", "height", "n_bytes", "sha256",
                ],
            )

    return (
        binary.mapInPandas(_meta, schema=META_SCHEMA)
        .repartition(1)
        .sortWithinPartitions("media_ref")
    )


def media_thumbnails(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode -> resize (real numpy) -> emit thumbnail stats."""
    binary = media_binary(spark, sf_dir)

    def _thumb(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for ref, payload in zip(pdf["media_ref"], pdf["payload"]):
                img = decode_image(bytes(payload))
                th = resize_max_side(img, THUMB_MAX_SIDE)
                rows.append(
                    (
                        ref,
                        int(img.shape[1]),
                        int(img.shape[0]),
                        int(th.shape[1]),
                        int(th.shape[0]),
                        round(float(th.mean()), 4),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_ref", "width", "height", "thumb_w", "thumb_h",
                    "thumb_mean",
                ],
            )

    return (
        binary.mapInPandas(_thumb, schema=THUMB_SCHEMA)
        .repartition(1)
        .sortWithinPartitions("media_ref")
    )


# --------------------------------------------------------------------------
# fixture video container (round 4: the frame-decode stub is GONE)
#
# No video libraries exist in this container, so — exactly like the QR
# matrix codec (core/qr.py) — the fixture ships its own tiny but REAL
# container format and the kernel decodes real bytes:
#
#     NVID1 | u16 n_frames | u32 frame_ms | (u32 len | frame bytes)*
#
# Frame payloads are deterministic 32-byte fixture frames keyed by
# (media_ref, frame index) — the compressed-frame stand-in; everything
# around them (magic validation, length-prefixed record walk, timestamp
# arithmetic, sampling-grid selection, truncation errors) is the code a
# pyav-backed decoder would sit behind, and is what the tests pin.
# --------------------------------------------------------------------------

VIDEO_MAGIC = b"NVID1"


def synth_frame_bytes(media_ref: str, idx: int) -> bytes:
    """Deterministic 32-byte fixture frame for container frame ``idx``."""
    return hashlib.sha256(f"frame:{media_ref}:{idx}".encode()).digest()


def encode_video(
    media_ref: str,
    n_frames: int = 4,
    frame_ms: int = 1000,
    frame_ids: list[tuple[str, int]] | None = None,
) -> bytes:
    """media_ref -> NVID1 container bytes (the opaque video payload).
    ``frame_ids`` overrides the per-frame content keys (ref, idx) so a
    fixture can emit videos that SHARE frames (re-upload simulation)
    while the container itself stays byte-honest."""
    import struct

    parts = [VIDEO_MAGIC, struct.pack("<HI", n_frames, frame_ms)]
    for i in range(n_frames):
        fb = (
            synth_frame_bytes(media_ref, i)
            if frame_ids is None
            else synth_frame_bytes(*frame_ids[i])
        )
        parts.append(struct.pack("<I", len(fb)))
        parts.append(fb)
    return b"".join(parts)


def decode_video_frames(
    payload: bytes, every_ms: int
) -> list[tuple[int, int, bytes]]:
    """Parse an NVID1 container and sample frames on the ``every_ms``
    grid: validates the magic, walks the length-prefixed frame records,
    computes each frame's timestamp from the container frame rate, and
    returns (sample_idx, ts_ms, frame_bytes) for frames whose timestamp
    lands on the sampling grid.  Raises ValueError on corrupt or
    truncated containers (the caller isolates per row, like image
    decode)."""
    import struct

    if not payload.startswith(VIDEO_MAGIC):
        raise ValueError("not an NVID1 container")
    off = len(VIDEO_MAGIC)
    try:
        n_frames, frame_ms = struct.unpack_from("<HI", payload, off)
    except struct.error as exc:
        raise ValueError("truncated NVID1 header") from exc
    off += 6
    out: list[tuple[int, int, bytes]] = []
    for ci in range(n_frames):
        try:
            (ln,) = struct.unpack_from("<I", payload, off)
        except struct.error as exc:
            raise ValueError("truncated NVID1 frame record") from exc
        off += 4
        fb = payload[off : off + ln]
        if len(fb) != ln:
            raise ValueError("truncated NVID1 frame payload")
        off += ln
        ts = ci * frame_ms
        if ts % every_ms == 0:
            out.append((len(out), ts, fb))
    return out


def video_binary(
    spark: SparkSession, sf_dir: str, mod: int = 50, n_frames: int = 4
) -> DataFrame:
    """A (media_ref, payload binary) video-column table: one NVID1
    container per sampled customer (the video sibling of media_binary)."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    k = F.col("c_custkey")
    refs = cust.filter(k % mod == 0).select(
        F.concat(F.lit("vid://"), k.cast("string")).alias("media_ref")
    )

    def _encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_ref": pdf["media_ref"],
                    "payload": [
                        encode_video(r, n_frames=n_frames)
                        for r in pdf["media_ref"]
                    ],
                }
            )

    return refs.repartition(_default_partitions(spark)).mapInPandas(
        _encode, schema="media_ref string, payload binary"
    )


def frame_sample(
    spark: SparkSession, sf_dir: str, every_ms: int = 1000, n_frames: int = 4
) -> DataFrame:
    """Video frame sampling: one container row -> n frame rows (flatMap
    shape, like the PDF page explode, reference obj_det/objd_util.py:
    95-111).  Round 4: the kernel DECODES REAL CONTAINER BYTES
    (decode_video_frames — magic, record walk, timestamp grid); only the
    32-byte frame payloads themselves are fixture stand-ins."""
    binary = video_binary(spark, sf_dir, n_frames=n_frames)

    def _sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for ref, payload in zip(pdf["media_ref"], pdf["payload"]):
                for i, ts, fb in decode_video_frames(
                    bytes(payload), every_ms
                ):
                    rows.append((ref, i, ts, fb.hex()))
            yield pd.DataFrame(
                rows,
                columns=["media_ref", "frame_idx", "ts_ms", "frame_sha256"],
            )

    return (
        binary.mapInPandas(_sample, schema=FRAME_SCHEMA)
        .repartition(1)
        .sortWithinPartitions("media_ref", "frame_idx")
    )


# --------------------------------------------------------------------------
# Audio modality.  Same honest-fixture design as video: a REAL container
# (NAUD1: magic / sample rate / sample count / int16-LE PCM payload) that
# the kernel genuinely parses byte-for-byte — only the waveform itself is a
# deterministic stand-in (an integer LCG ramp, so a DuckDB oracle can
# recompute every feature analytically and the comparison is exact).
# --------------------------------------------------------------------------

AUDIO_MAGIC = b"NAUD1"
AUDIO_SAMPLE_RATE = 16_000
AUDIO_N_SAMPLES = 2_048
AUDIO_WIN = 256
# waveform generator constants (shared verbatim with the SQL oracle)
_AUD_SEED_MUL = 2_654_435_761  # Knuth multiplicative hash
_AUD_SEED_MOD = 2_147_483_647
_AUD_STEP = 104_729  # prime stride


def synth_audio_samples(key: int, n_samples: int = AUDIO_N_SAMPLES) -> np.ndarray:
    """Deterministic int16 PCM stand-in waveform for fixture key ``key``:
    s[i] = ((key*MUL % MOD) + i*STEP) % 65536 - 32768.  Integer-exact and
    SQL-expressible, so oracles recompute it without sharing code."""
    seed = (key * _AUD_SEED_MUL) % _AUD_SEED_MOD
    return (
        (seed + np.arange(n_samples, dtype=np.int64) * _AUD_STEP) % 65536
        - 32768
    ).astype(np.int16)


def encode_audio(
    key: int,
    n_samples: int = AUDIO_N_SAMPLES,
    sample_rate: int = AUDIO_SAMPLE_RATE,
) -> bytes:
    """fixture key -> NAUD1 container bytes (the opaque audio payload)."""
    import struct

    samples = synth_audio_samples(key, n_samples)
    return b"".join(
        [
            AUDIO_MAGIC,
            struct.pack("<II", sample_rate, n_samples),
            samples.astype("<i2").tobytes(),
        ]
    )


def decode_audio(payload: bytes) -> tuple[int, np.ndarray]:
    """Parse an NAUD1 container: validates the magic, reads the header,
    and checks the PCM payload length against the declared sample count.
    Returns (sample_rate, int16 samples).  Raises ValueError on corrupt
    or truncated containers (caller isolates per row, like image/video
    decode)."""
    import struct

    if not payload.startswith(AUDIO_MAGIC):
        raise ValueError("not an NAUD1 container")
    off = len(AUDIO_MAGIC)
    try:
        sample_rate, n_samples = struct.unpack_from("<II", payload, off)
    except struct.error as exc:
        raise ValueError("truncated NAUD1 header") from exc
    off += 8
    pcm = payload[off : off + 2 * n_samples]
    if len(pcm) != 2 * n_samples:
        raise ValueError("truncated NAUD1 PCM payload")
    return sample_rate, np.frombuffer(pcm, dtype="<i2")


def audio_binary(
    spark: SparkSession, sf_dir: str, mod: int = 50
) -> DataFrame:
    """A (media_ref, payload binary) audio-column table: one NAUD1
    container per sampled customer (the audio sibling of video_binary)."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    k = F.col("c_custkey")
    refs = cust.filter(k % mod == 0).select(
        k.cast("long").alias("key"),
        F.concat(F.lit("aud://"), k.cast("string")).alias("media_ref"),
    )

    def _encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_ref": pdf["media_ref"],
                    "payload": [encode_audio(int(key)) for key in pdf["key"]],
                }
            )

    return refs.repartition(_default_partitions(spark)).mapInPandas(
        _encode, schema="media_ref string, payload binary"
    )


AUDIO_FEATURE_SCHEMA = (
    "media_ref string, win_idx int, n_samples int, sum_abs long, "
    "energy long, peak int, zero_cross int"
)


def audio_features(
    spark: SparkSession, sf_dir: str, win: int = AUDIO_WIN
) -> DataFrame:
    """Audio feature extraction: one container row -> one row per
    fixed-size analysis window (flatMap shape, like frame_sample), with
    the classic integer-exact frame features a training-data audio
    filter needs — total magnitude, energy (sum of squares), peak, and
    zero-crossing count (the cheap voiced/unvoiced + silence signals).

    The kernel DECODES REAL CONTAINER BYTES (decode_audio: magic,
    header, int16-LE PCM) and computes features from the decoded
    waveform in vectorized numpy; a real librosa/ffmpeg-backed decoder
    slots in behind the same (media_ref, payload) -> window-rows
    contract.  Zero crossings are counted strictly within a window so
    window rows are independent of how containers batch.

    Scale shape: decode + features are map-side (mapInPandas over Arrow
    binary batches, int64 accumulators — 256 * 32768^2 << 2^63); no
    shuffle except the check-gate sort.  At 100 TB the payload column
    stays pruned away unless a query touches it (binary column last in
    the schema, SURVEY §4)."""
    binary = audio_binary(spark, sf_dir)

    def _features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for ref, payload in zip(pdf["media_ref"], pdf["payload"]):
                _, samples = decode_audio(bytes(payload))
                s = samples.astype(np.int64)
                for w0 in range(0, len(s), win):
                    seg = s[w0 : w0 + win]
                    flips = int(((seg[1:] < 0) != (seg[:-1] < 0)).sum())
                    rows.append(
                        (
                            ref,
                            w0 // win,
                            len(seg),
                            int(np.abs(seg).sum()),
                            int((seg * seg).sum()),
                            int(np.abs(seg).max()),
                            flips,
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_ref",
                    "win_idx",
                    "n_samples",
                    "sum_abs",
                    "energy",
                    "peak",
                    "zero_cross",
                ],
            )

    return (
        binary.mapInPandas(_features, schema=AUDIO_FEATURE_SCHEMA)
        .repartition(1)
        .sortWithinPartitions("media_ref", "win_idx")
    )


def resize_to(img: np.ndarray, w: int, h: int) -> np.ndarray:
    """Nearest-neighbor resize to an exact (w, h) grid."""
    H, W = img.shape[:2]
    yi = (np.arange(h) * H // h).clip(0, H - 1)
    xi = (np.arange(w) * W // w).clip(0, W - 1)
    return img[yi][:, xi]


def dhash64(img: np.ndarray) -> str:
    """64-bit difference hash (dHash): 9x8 downscale, horizontal
    gradient sign per cell — the classic perceptual image fingerprint
    (robust to resize/re-encode, cheap enough for 10^12 images).
    Returned as 16 hex chars so the value is engine/string-portable."""
    g = resize_to(img, 9, 8).astype(np.int32)
    bits = (g[:, 1:] > g[:, :-1]).flatten()
    v = 0
    for b in bits:
        v = (v << 1) | int(b)
    return f"{v:016x}"


def media_dhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-duplicate grouping of media blobs: decode each
    image, compute its 64-bit dHash, group by hash — re-encoded or
    resized copies of the same picture collapse to one group where the
    exact content-key dedup (media_ref_dedup) cannot see them.  Emits
    per blob: the hash, the group's size, and its canonical (minimum)
    member — filtering is_canonical keeps one visual per group.

    Scale shape: hashing is map-side (mapInPandas over Arrow binary
    batches); the only shuffle is the 8-byte hash key; at 10^12 images
    the extension to Hamming-radius matching is multi-index banding
    (split the 64 bits into 4 bands of 16, bucket-join per band — the
    simhash/minhash-LSH shape already in dedup.py)."""
    binary = media_binary(spark, sf_dir)

    def _hash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_ref": pdf["media_ref"],
                    "dhash": [
                        dhash64(decode_image(bytes(p)))
                        for p in pdf["payload"]
                    ],
                }
            )

    hashed = binary.mapInPandas(_hash, schema="media_ref string, dhash string")
    w = Window.partitionBy("dhash")
    return (
        hashed.withColumn("group_size", F.count("*").over(w))
        .withColumn("canonical_ref", F.min("media_ref").over(w))
        .withColumn(
            "is_canonical",
            (F.col("media_ref") == F.col("canonical_ref")).cast("int"),
        )
        .repartition(1)
        .sortWithinPartitions("media_ref")
    )


# --------------------------------------------------------------------------
# Video near-dup: re-upload detection via frame-fingerprint Jaccard
# --------------------------------------------------------------------------

VIDEO_DUP_GROUP = 3  # sampled videos per shared-content group (fixture)
VIDEO_DUP_MIN_PPM = 500_000  # pair ships at frame-Jaccard >= 0.5


def video_near_dup(
    spark: SparkSession, sf_dir: str, mod: int = 50, n_frames: int = 4
) -> DataFrame:
    """Re-upload / near-duplicate detection over the video modality: two
    videos are near-dups when their FRAME fingerprint sets overlap (the
    standard video-dedup shape — hash keyframes, join on the hash,
    score pair overlap), which catches re-encodes, trims and off-by-one
    frame shifts that a whole-file digest misses.  The fixture corpus
    encodes content groups (VIDEO_DUP_GROUP sampled customers share a
    group; alternate members start one frame later), so the output
    contains exact re-uploads (Jaccard 1.0) AND shifted near-dups
    (3 shared of 4) — both above VIDEO_DUP_MIN_PPM — while unrelated
    videos never pair at all.

    Scale shape: container decode is a mapInPandas kernel over real
    NVID1 bytes; the pair search is an inverted-index equi-join on the
    frame hash (identical to the LSH band-bucket join — work
    proportional to true overlap, never all-pairs), with AQE skew-split
    absorbing any viral frame; the Jaccard arithmetic is integer ppm on
    the fixed per-container frame count."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    k = F.col("c_custkey")
    refs = cust.filter(k % mod == 0).select(
        k.alias("c_custkey"),
        F.concat(F.lit("vid://"), k.cast("string")).alias("media_ref"),
    )

    def _encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for ck in pdf["c_custkey"]:
                g = int(ck) // (mod * VIDEO_DUP_GROUP)
                off = (int(ck) // mod) % 2
                ids = [
                    (f"vgrp://{g}", off + i) for i in range(n_frames)
                ]
                payloads.append(
                    encode_video(
                        f"vid://{ck}", n_frames=n_frames, frame_ids=ids
                    )
                )
            yield pd.DataFrame(
                {"media_ref": pdf["media_ref"], "payload": payloads}
            )

    binary = refs.repartition(_default_partitions(spark)).mapInPandas(
        _encode, schema="media_ref string, payload binary"
    )

    def _frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for ref, payload in zip(pdf["media_ref"], pdf["payload"]):
                for _i, _ts, fb in decode_video_frames(
                    bytes(payload), every_ms=1
                ):
                    rows.append((ref, fb.hex()))
            yield pd.DataFrame(
                rows, columns=["media_ref", "frame_hex"]
            )

    frames = binary.mapInPandas(
        _frames, schema="media_ref string, frame_hex string"
    )
    a, b = frames.alias("a"), frames.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.frame_hex") == F.col("b.frame_hex"))
            & (F.col("a.media_ref") < F.col("b.media_ref")),
        )
        .groupBy(
            F.col("a.media_ref").alias("ref_a"),
            F.col("b.media_ref").alias("ref_b"),
        )
        .agg(F.count("*").alias("shared"))
    )
    return (
        shared.withColumn(
            "jaccard_ppm",
            F.expr(f"(shared * 1000000) div ({2 * n_frames} - shared)"),
        )
        .filter(F.col("jaccard_ppm") >= VIDEO_DUP_MIN_PPM)
        .repartition(1)
        .sortWithinPartitions("ref_a", "ref_b")
    )

# --------------------------------------------------------------------------
# Audio near-dup: re-upload detection via window-fingerprint Jaccard
# --------------------------------------------------------------------------

AUDIO_DUP_GROUP = 3  # sampled audio clips per shared-content group
AUDIO_DUP_WINS = 4  # analysis windows per fixture clip
AUDIO_DUP_MIN_PPM = 500_000  # pair ships at window-Jaccard >= 0.5
_AUD_GRP_MUL = 1_000_003  # group/window seed mixing prime


def encode_audio_pcm(
    samples: np.ndarray, sample_rate: int = AUDIO_SAMPLE_RATE
) -> bytes:
    """Raw int16 PCM -> NAUD1 container bytes (the encoder half of
    decode_audio, for callers that bring their own waveform)."""
    import struct

    return b"".join(
        [
            AUDIO_MAGIC,
            struct.pack("<II", sample_rate, len(samples)),
            samples.astype("<i2").tobytes(),
        ]
    )


def audio_near_dup(
    spark: SparkSession, sf_dir: str, mod: int = 50
) -> DataFrame:
    """Re-upload / near-duplicate detection over the audio modality —
    the audio sibling of video_near_dup: two clips are near-dups when
    their per-window acoustic fingerprints overlap (the Shazam-style
    shape — fingerprint fixed-size analysis windows, join on the
    fingerprint, score pair overlap), which catches re-encodes and
    trims that a whole-file digest misses.  The fixture corpus encodes
    content groups (AUDIO_DUP_GROUP sampled customers share a group;
    alternate members start one window later), so the output contains
    exact re-uploads (Jaccard 1.0) AND shifted near-dups (3 shared of
    4) — both above AUDIO_DUP_MIN_PPM — while unrelated clips never
    pair.

    The fingerprint is computed from DECODED CONTAINER BYTES
    (decode_audio -> per-window sum_abs:energy, the audio_features
    integers), so the Spark side exercises the real codec path; the
    DuckDB oracle regenerates the waveform analytically from the shared
    integer formula and replays the same join — no shared code.

    Scale shape: decode + fingerprint are map-side (mapInPandas over
    Arrow binary batches); the pair search is an inverted-index
    equi-join on the fingerprint (work proportional to true overlap,
    never all-pairs) with AQE absorbing any viral window; Jaccard is
    integer ppm on the fixed per-clip window count."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    k = F.col("c_custkey")
    refs = cust.filter(k % mod == 0).select(
        k.cast("long").alias("key"),
        F.concat(F.lit("aud://"), k.cast("string")).alias("media_ref"),
    )
    n_wins = AUDIO_DUP_WINS

    def _encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for ck in pdf["key"]:
                g = int(ck) // (mod * AUDIO_DUP_GROUP)
                off = (int(ck) // mod) % 2
                wins = []
                for i in range(n_wins):
                    seed = (
                        (g * _AUD_GRP_MUL + off + i) * _AUD_SEED_MUL
                    ) % _AUD_SEED_MOD
                    wins.append(
                        (
                            seed
                            + np.arange(AUDIO_WIN, dtype=np.int64)
                            * _AUD_STEP
                        )
                        % 65536
                        - 32768
                    )
                payloads.append(
                    encode_audio_pcm(np.concatenate(wins).astype(np.int16))
                )
            yield pd.DataFrame(
                {"media_ref": pdf["media_ref"], "payload": payloads}
            )

    binary = refs.repartition(_default_partitions(spark)).mapInPandas(
        _encode, schema="media_ref string, payload binary"
    )

    def _fingerprints(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for ref, payload in zip(pdf["media_ref"], pdf["payload"]):
                _, samples = decode_audio(bytes(payload))
                s = samples.astype(np.int64)
                for w0 in range(0, len(s), AUDIO_WIN):
                    seg = s[w0 : w0 + AUDIO_WIN]
                    rows.append(
                        (
                            ref,
                            f"{int(np.abs(seg).sum())}:"
                            f"{int((seg * seg).sum())}",
                        )
                    )
            yield pd.DataFrame(rows, columns=["media_ref", "fp"])

    fps = binary.mapInPandas(
        _fingerprints, schema="media_ref string, fp string"
    )
    a, b = fps.alias("a"), fps.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.media_ref") < F.col("b.media_ref")),
        )
        .groupBy(
            F.col("a.media_ref").alias("ref_a"),
            F.col("b.media_ref").alias("ref_b"),
        )
        .agg(F.count("*").alias("shared"))
    )
    return (
        shared.withColumn(
            "jaccard_ppm",
            F.expr(f"(shared * 1000000) div ({2 * n_wins} - shared)"),
        )
        .filter(F.col("jaccard_ppm") >= AUDIO_DUP_MIN_PPM)
        .repartition(1)
        .sortWithinPartitions("ref_a", "ref_b")
    )
