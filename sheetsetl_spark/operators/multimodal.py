"""Multimodal column operators (SURVEY §2-C C5): opaque binary payloads
(image/audio/video) with typed metadata, processed via Arrow-batched
mapInPandas.

The Spark-side plumbing here is real and tested: schema contract,
partition sizing, Pandas-UDF batch shape, metadata extraction. The actual
media decoding is STUBBED (this container ships no image/audio libs) —
``decode_fn`` is injectable; the default ``deterministic_fake_decoder``
produces stable pseudo-features from the bytes so tests can assert
end-to-end behavior, and ``strict_decoder`` raises NotImplementedError to
mark the integration point.

Scale notes: media corpora dominate byte volume, so the operators
(a) never collect payloads to the driver, (b) repartition by a size
budget before the UDF stage so one Arrow batch fits executor memory, and
(c) project payload bytes away as soon as features are extracted.

Fingerprint near-dup (image dHash, audio energy hash) is the Hamming
family of the banded near-dup core in ``operators/dedup.py``: its
validator is :func:`_hamming_banding`, its band stack
:func:`_hamming_stack`, its candidates come from ``dedup._band_join``
and its verify is ``bit_count(xor) <= max_hamming``.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sheetsetl_spark.operators.dedup import _band_join

#: Contract for a multimodal table: payload + typed metadata.
MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),  # image | audio | video
        T.StructField("payload", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("sample_rate", T.IntegerType()),
                    T.StructField("n_frames", T.IntegerType()),
                ]
            ),
        ),
    ]
)

# Per-batch Arrow byte budget for every payload-bearing media operator:
# 32 MiB (half the Spark 4 default) keeps 32 concurrent Python workers'
# resident batches ~1 GB total even when a single payload row is MBs
# (see _cap_arrow_batch; the row cap alone scales with payload width).
_MEDIA_BATCH_BYTES = 32 << 20

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("feature", T.ArrayType(T.DoubleType())),
    ]
)


def _cap_arrow_batch(
    spark, target_rows_per_batch: int, target_bytes_per_batch: int | None = None
) -> None:
    """Lower (never raise) the session-wide Arrow record-batch caps.

    ``spark.sql.execution.arrow.maxRecordsPerBatch`` is read at EXECUTION
    time, not at DataFrame construction, so a set-then-restore wrapper
    around a lazy mapInPandas would silently undo itself before the job
    ever runs. The contract is therefore monotone: media operators only
    ever LOWER the session caps (bounding executor memory for wide binary
    rows — the unsafe direction is batches too large, never too small); a
    later narrow-row operator at worst runs with smaller batches.
    ``build_session`` pins the engine baseline explicitly so the starting
    point is known.

    ``target_bytes_per_batch`` (r12, guide §4.2/§5): a row cap alone
    does not bound memory when each row carries a media payload —
    1024 rows of 1 MB images is a 1 GB Arrow batch resident in EVERY
    concurrent Python worker (32 at local[32]; the r11 verdict flagged
    the media decode as the first thing to die under host memory
    pressure). Spark 4's ``...arrow.maxBytesPerBatch`` (default 64 MiB)
    is the direct knob: the media operators lower it so per-worker
    resident batch bytes stay bounded no matter the payload width. Same
    monotone contract; silently skipped on engines without the conf."""
    try:
        cur = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    except Exception:
        cur = 10000
    if target_rows_per_batch < cur:
        spark.conf.set(
            "spark.sql.execution.arrow.maxRecordsPerBatch", str(target_rows_per_batch)
        )
    if target_bytes_per_batch is not None:
        key = "spark.sql.execution.arrow.maxBytesPerBatch"
        try:
            raw = spark.conf.get(key).strip().lower()
            mult = {"b": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30}.get(raw[-1], 1)
            cur_bytes = int(raw.rstrip("bkmg") or 0) * mult
        except Exception:
            return  # engine without the byte cap: rows cap still applies
        if 0 < target_bytes_per_batch < cur_bytes:
            spark.conf.set(key, f"{target_bytes_per_batch}b")


def _fan_out_ids(df: DataFrame, id_col: str) -> DataFrame:
    """Spread the id column across the cluster before a Python-heavy
    synthesize chain. A compact parquet source can arrive as a handful
    of splits (the r8 10x fixture's documents table read as TWO
    partitions), and everything downstream of mapInPandas inherits that
    parallelism — the whole synthesize -> decode -> fingerprint chain
    ran on 2 of 32 cores. The repartition shuffles ONLY the pruned id
    column (8 bytes/row), so the fan-out costs ~nothing relative to
    the Python work it parallelizes."""
    ids = df.select(id_col)
    target = df.sparkSession.sparkContext.defaultParallelism
    if ids.rdd.getNumPartitions() < target:
        ids = ids.repartition(target)
    return ids


def deterministic_fake_decoder(payload: bytes, kind: str) -> list[float]:
    """Stand-in for image/audio decoding: 8 stable pseudo-features from
    the byte stream (so the distributed plumbing is fully testable)."""
    if payload is None:
        return []
    acc = [0] * 8
    for i, b in enumerate(payload):
        acc[i % 8] = (acc[i % 8] + b) % 997
    return [a / 997.0 for a in acc]


def strict_decoder(payload: bytes, kind: str) -> list[float]:
    """The exotic-codec integration point (JPEG/PNG/MP3/...). Container
    has no codec libs; uncompressed PPM/BMP decode IS implemented in pure
    Python — see ``ppm_bmp_decoder`` / ``ppm_resizer``."""
    raise NotImplementedError(
        "compressed-media decoding requires codec libraries not present in "
        "this environment; use ppm_bmp_decoder/ppm_resizer for uncompressed "
        "formats or inject a decode_fn"
    )


# --- Pure-Python uncompressed codecs (no external libs) --------------------
#
# Real end-to-end pixel path: P6 PPM and 24-bpp BMP parse/encode in plain
# Python + numpy, so resize / feature-extract / frame-sample run on genuine
# image data inside mapInPandas. Compressed codecs remain behind
# ``strict_decoder``.


def _parse_ppm_at(payload: bytes, offset: int) -> tuple[int, int, int, int]:
    """Parse one P6 frame starting at ``offset``: returns
    (width, height, raster_start, raster_end)."""
    if payload[offset : offset + 2] != b"P6":
        raise ValueError("not a P6 PPM payload")
    idx, vals = offset + 2, []
    while len(vals) < 3:
        while idx < len(payload) and payload[idx : idx + 1].isspace():
            idx += 1
        if payload[idx : idx + 1] == b"#":
            while idx < len(payload) and payload[idx] != 0x0A:
                idx += 1
            continue
        start = idx
        while idx < len(payload) and not payload[idx : idx + 1].isspace():
            idx += 1
        vals.append(int(payload[start:idx]))
    w, h, maxval = vals
    if maxval != 255:
        raise ValueError(f"unsupported PPM maxval {maxval}")
    idx += 1  # exactly one whitespace byte separates header from raster
    end = idx + w * h * 3
    if end > len(payload):
        raise ValueError("truncated PPM raster")
    return w, h, idx, end


def parse_ppm(payload: bytes) -> tuple[int, int, bytes]:
    """Parse a binary P6 PPM (maxval 255): returns (width, height, rgb)."""
    if not payload:
        raise ValueError("not a P6 PPM payload")
    w, h, start, end = _parse_ppm_at(payload, 0)
    return w, h, payload[start:end]


def encode_ppm(width: int, height: int, rgb: bytes) -> bytes:
    if len(rgb) != width * height * 3:
        raise ValueError("rgb length != width*height*3")
    return b"P6\n%d %d\n255\n" % (width, height) + rgb


def parse_bmp(payload: bytes) -> tuple[int, int, bytes]:
    """Parse an uncompressed 24-bpp BMP: returns (width, height, rgb)
    top-down (handles the standard bottom-up row order and 4-byte row
    padding; BGR -> RGB)."""
    import numpy as np

    if not payload or not payload.startswith(b"BM"):
        raise ValueError("not a BMP payload")
    data_offset = int.from_bytes(payload[10:14], "little")
    w = int.from_bytes(payload[18:22], "little", signed=True)
    h = int.from_bytes(payload[22:26], "little", signed=True)
    bpp = int.from_bytes(payload[28:30], "little")
    compression = int.from_bytes(payload[30:34], "little")
    if bpp != 24 or compression != 0:
        raise ValueError(f"unsupported BMP (bpp={bpp}, compression={compression})")
    top_down, h = h < 0, abs(h)
    row_size = (w * 3 + 3) // 4 * 4
    raster = np.frombuffer(payload, dtype=np.uint8, count=row_size * h, offset=data_offset)
    rows = raster.reshape(h, row_size)[:, : w * 3].reshape(h, w, 3)
    if not top_down:
        rows = rows[::-1]
    return w, h, rows[..., ::-1].tobytes()  # BGR -> RGB


def _sniff_decode(payload: bytes) -> tuple[int, int, bytes]:
    if payload and payload.startswith(b"P6"):
        return parse_ppm(payload)
    if payload and payload.startswith(b"BM"):
        return parse_bmp(payload)
    raise ValueError("unrecognized image codec (supported uncompressed: P6 PPM, 24-bpp BMP)")


def ppm_bmp_decoder(payload: bytes, kind: str) -> list[float]:
    """Real image feature extraction over uncompressed payloads: 8 stable
    stats [w, h, mean_r, mean_g, mean_b, min, max, n_px] (channel means
    scaled to [0,1]). Non-image kinds fall back to the byte-stream fake."""
    import numpy as np

    if kind != "image":
        return deterministic_fake_decoder(payload, kind)
    w, h, rgb = _sniff_decode(payload)
    px = np.frombuffer(rgb, dtype=np.uint8).reshape(-1, 3)
    means = px.mean(axis=0) / 255.0 if len(px) else [0.0, 0.0, 0.0]
    return [
        float(w),
        float(h),
        float(means[0]),
        float(means[1]),
        float(means[2]),
        float(px.min()) if len(px) else 0.0,
        float(px.max()) if len(px) else 0.0,
        float(len(px)),
    ]


def ppm_resizer(payload: bytes, width: int, height: int) -> bytes:
    """Real nearest-neighbor resize of a PPM/BMP payload, re-encoded as
    P6 PPM — pure numpy index arithmetic, no codec libs."""
    import numpy as np

    w, h, rgb = _sniff_decode(payload)
    px = np.frombuffer(rgb, dtype=np.uint8).reshape(h, w, 3)
    ys = (np.arange(height) * h) // height
    xs = (np.arange(width) * w) // width
    out = px[ys][:, xs]
    return encode_ppm(width, height, out.tobytes())


def ppm_frame_extractor(payload: bytes, n_frames: int) -> list[bytes]:
    """Treat 'video' as a concatenated stream of P6 frames and split it by
    actually parsing each header+raster (``n_frames`` caps the scan as a
    corruption guard; 0/None means trust the stream)."""
    frames: list[bytes] = []
    idx = 0
    while idx < len(payload or b"") and (not n_frames or len(frames) < n_frames):
        _, _, _, end = _parse_ppm_at(payload, idx)
        frames.append(payload[idx:end])
        idx = end
    return frames


def extract_features(
    media: DataFrame,
    decode_fn: Callable[[bytes, str], list[float]] = deterministic_fake_decoder,
    target_rows_per_batch: int = 1024,
) -> DataFrame:
    """Decode/feature-extract via mapInPandas (Arrow batches).

    The UDF yields narrow feature rows and drops the payload column —
    downstream stages never shuffle raw media bytes.
    """

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": pdf["payload"].map(lambda p: 0 if p is None else len(p)),
                    "feature": [
                        decode_fn(p, k) for p, k in zip(pdf["payload"], pdf["kind"])
                    ],
                }
            )

    spark = media.sparkSession
    _cap_arrow_batch(spark, target_rows_per_batch, _MEDIA_BATCH_BYTES)
    return media.mapInPandas(decode_batches, schema=FEATURE_SCHEMA)


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
    ]
)


def deterministic_fake_resizer(payload: bytes, width: int, height: int) -> bytes:
    """Stand-in for image resize: deterministic byte resampling to
    width*height bytes (repeat/truncate) so batch shape and payload flow
    are testable without codec libs."""
    if payload is None:
        return b""
    target = max(1, width * height)
    reps = (target // max(1, len(payload))) + 1
    return (payload * reps)[:target]


def strict_resizer(payload: bytes, width: int, height: int) -> bytes:
    raise NotImplementedError(
        "image resize requires imaging libraries not present in this "
        "environment; inject a resize_fn (see deterministic_fake_resizer)"
    )


def resize_images(
    media: DataFrame,
    width: int,
    height: int,
    resize_fn: Callable[[bytes, int, int], bytes] = deterministic_fake_resizer,
    target_rows_per_batch: int = 256,
) -> DataFrame:
    """Resize the image payloads via mapInPandas (Arrow batches).

    Non-image rows pass through untouched. Batches are kept small
    (``target_rows_per_batch``) because both input and output carry
    payload bytes — the one multimodal stage where width stays wide."""

    def resize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "payload": [
                        resize_fn(p, width, height) if k == "image" else p
                        for p, k in zip(pdf["payload"], pdf["kind"])
                    ],
                    "width": width,
                    "height": height,
                }
            )
            yield out

    spark = media.sparkSession
    _cap_arrow_batch(spark, target_rows_per_batch, _MEDIA_BATCH_BYTES)
    return media.mapInPandas(resize_batches, schema=RESIZED_SCHEMA)


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame", T.BinaryType()),
    ]
)


def deterministic_fake_frame_extractor(payload: bytes, n_frames: int) -> list[bytes]:
    """Stand-in for video frame decoding: split the byte stream into
    n_frames equal slices."""
    if payload is None or not n_frames:
        return []
    step = max(1, len(payload) // n_frames)
    return [payload[i * step : (i + 1) * step] for i in range(n_frames)]


def sample_frames(
    media: DataFrame,
    every_n: int = 10,
    extract_fn: Callable[[bytes, int], list[bytes]] = deterministic_fake_frame_extractor,
    target_rows_per_batch: int = 256,
) -> DataFrame:
    """Sample every ``every_n``-th frame from video payloads (C5
    frame-sample tier). One input row fans out to ceil(n_frames/every_n)
    narrow frame rows — the flatMap shape ``mapInPandas`` models
    naturally. Non-video rows produce no output."""

    def frame_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids: list[int] = []
            idxs: list[int] = []
            frames: list[bytes] = []
            for mid, kind, payload, meta in zip(
                pdf["media_id"], pdf["kind"], pdf["payload"], pdf["meta"]
            ):
                if kind != "video":
                    continue
                n_frames = (meta or {}).get("n_frames") or 0
                for i, frame in enumerate(extract_fn(payload, n_frames)):
                    if i % every_n == 0:
                        ids.append(mid)
                        idxs.append(i)
                        frames.append(frame)
            yield pd.DataFrame({"media_id": ids, "frame_idx": idxs, "frame": frames})

    spark = media.sparkSession
    _cap_arrow_batch(spark, target_rows_per_batch, _MEDIA_BATCH_BYTES)
    return media.mapInPandas(frame_batches, schema=FRAME_SCHEMA)


def media_summary(features: DataFrame) -> DataFrame:
    """Typed-metadata rollup over extracted features (pure built-ins)."""
    return features.groupBy("kind").agg(
        F.count("*").alias("n_items"),
        F.sum("n_bytes").alias("total_bytes"),
        F.round(
            F.sum(F.element_at("feature", 1).cast("decimal(18,6)")).cast("double")
            / F.count("*"),
            6,
        ).alias("avg_f0"),
    )


def synthesize_ppm_media(
    df: DataFrame,
    id_col: str = "doc_id",
    width: int = 4,
    height: int = 4,
    target_rows_per_batch: int = 1024,
    pixel_fn=None,
    id_offset: int = 0,
) -> DataFrame:
    """Deterministic P6-PPM media corpus derived from an id column: pixel
    byte j of image ``id`` is ``pixel_fn(id, j) % 256`` (default
    ``id*7 + j``, the c5b formula). Gives every fixture row a REAL
    decodable image payload so the full binary pipeline (decode → resize
    → feature-extract) runs end-to-end — and, because the pixels are
    closed-form, the whole pipeline stays expressible as a SQL oracle.
    ``id_offset`` shifts the emitted media_id (planted-copy idiom: same
    pixels, distinct id). Emits MEDIA_SCHEMA rows (kind='image')."""
    n_bytes = width * height * 3
    if pixel_fn is None:
        pixel_fn = lambda i, j: i * 7 + j  # noqa: E731 - the c5b formula

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf[id_col].astype("int64")
            yield pd.DataFrame(
                {
                    "media_id": ids + id_offset,
                    "kind": "image",
                    "payload": [
                        encode_ppm(
                            width,
                            height,
                            bytes(pixel_fn(int(i), j) % 256 for j in range(n_bytes)),
                        )
                        for i in ids
                    ],
                    "meta": [
                        {"width": width, "height": height, "sample_rate": None, "n_frames": None}
                        for _ in ids
                    ],
                }
            )

    spark = df.sparkSession
    _cap_arrow_batch(spark, target_rows_per_batch, _MEDIA_BATCH_BYTES)
    return _fan_out_ids(df, id_col).mapInPandas(gen, schema=MEDIA_SCHEMA)


def image_dhash(
    media: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
    target_rows_per_batch: int = 1024,
) -> DataFrame:
    """Perceptual difference hash (dHash) over REAL decoded pixels: per
    image, grayscale each pixel as the INTEGER mean ``(r+g+b) // 3``
    (integer so a SQL oracle can replicate it bit-for-bit), then one bit
    per horizontal neighbor pair — bit ``row*(w-1)+c`` (LSB first) is 1
    iff ``g[row,c] < g[row,c+1]``. Returns (id, width, height, dhash
    BIGINT). The standard practice of resizing to a small fixed grid
    first is :func:`resize_images` composed in front of this.

    Runs inside Arrow ``mapInPandas`` over the binary payload column —
    payload bytes never reach the driver and are projected away here.
    """
    import numpy as np

    out_schema = (
        f"{id_col} long, width int, height int, dhash long"
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, ws, hs, hashes = [], [], [], []
            for i, payload in zip(pdf[id_col], pdf[payload_col]):
                w, h, rgb = _sniff_decode(bytes(payload))
                if h * (w - 1) > 63:
                    raise ValueError(
                        f"image_dhash: {w}x{h} yields {h * (w - 1)} gradient "
                        "bits, over the 63-bit BIGINT budget; resize to a "
                        "small canonical grid first (resize_images)"
                    )
                px = np.frombuffer(rgb, dtype=np.uint8).reshape(h, w, 3)
                g = px.astype(np.int64).sum(axis=2) // 3
                bits = (g[:, :-1] < g[:, 1:]).astype(np.int64).reshape(-1)
                ids.append(int(i))
                ws.append(w)
                hs.append(h)
                hashes.append(int((bits << np.arange(bits.size)).sum()))
            yield pd.DataFrame(
                {id_col: ids, "width": ws, "height": hs, "dhash": hashes}
            )

    spark = media.sparkSession
    _cap_arrow_batch(spark, target_rows_per_batch, _MEDIA_BATCH_BYTES)
    return media.select(id_col, payload_col).mapInPandas(gen, schema=out_schema)


def encode_wav(sample_rate: int, samples) -> bytes:
    """Minimal PCM16 mono RIFF/WAVE encoder (struct header + one
    vectorized little-endian cast for the sample data)."""
    import struct

    import numpy as np

    data = np.asarray(list(samples) if not hasattr(samples, "astype") else samples)
    data = data.astype("<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def parse_wav(payload: bytes):
    """Parse PCM16 mono WAV by walking RIFF chunks: returns
    (sample_rate, numpy int16 samples). Rejects non-PCM16-mono."""
    import struct

    import numpy as np

    if not payload or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, rate, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        size = struct.unpack("<I", payload[pos + 4 : pos + 8])[0]
        chunk = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            audio_fmt, channels, rate = struct.unpack("<HHI", chunk[:8])
            bits = struct.unpack("<H", chunk[14:16])[0]
            if audio_fmt != 1 or channels != 1 or bits != 16:
                raise ValueError(
                    f"unsupported WAV (fmt={audio_fmt}, ch={channels}, bits={bits}); "
                    "PCM16 mono only"
                )
        elif cid == b"data":
            data = np.frombuffer(chunk, dtype="<i2")
        pos += 8 + size + (size & 1)  # RIFF chunks are word-aligned
    if rate is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    return rate, data


def synthesize_wav_audio(
    df: DataFrame,
    id_col: str = "doc_id",
    n_samples: int = 1024,
    sample_rate: int = 8000,
    sample_fn=None,
    id_offset: int = 0,
    target_rows_per_batch: int = 1024,
) -> DataFrame:
    """Deterministic PCM16 audio corpus: sample t of clip ``id`` is
    ``sample_fn(id, t)`` (default a bounded closed-form wave), so the
    whole decode→fingerprint pipeline stays SQL-oracle-able.
    ``sample_fn`` is called ONCE per clip with ``t`` as a numpy int64
    index array — write it with elementwise arithmetic (`%`, `*`,
    comparisons) and it vectorizes for free; a per-sample Python loop
    here was measured at ~7s for 5k clips x 1k samples at bench SF.
    Emits MEDIA_SCHEMA rows (kind='audio', meta.sample_rate set)."""
    import numpy as np

    if sample_fn is None:
        sample_fn = lambda i, t: ((i * 13 + ((t * t) % 509) * 3) % 4096) - 2048  # noqa: E731
    t_idx = np.arange(n_samples, dtype=np.int64)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf[id_col].astype("int64")
            yield pd.DataFrame(
                {
                    "media_id": ids + id_offset,
                    "kind": "audio",
                    "payload": [
                        encode_wav(sample_rate, np.asarray(sample_fn(int(i), t_idx)))
                        for i in ids
                    ],
                    "meta": [
                        {"width": None, "height": None, "sample_rate": sample_rate, "n_frames": None}
                        for _ in ids
                    ],
                }
            )

    spark = df.sparkSession
    _cap_arrow_batch(spark, target_rows_per_batch, _MEDIA_BATCH_BYTES)
    return _fan_out_ids(df, id_col).mapInPandas(gen, schema=MEDIA_SCHEMA)


def audio_energy_hash(
    media: DataFrame,
    window: int = 32,
    id_col: str = "media_id",
    payload_col: str = "payload",
    target_rows_per_batch: int = 1024,
) -> DataFrame:
    """Acoustic fingerprint over REAL decoded PCM: split the samples
    into fixed ``window``-sample frames, per-frame energy = sum of
    ABSOLUTE sample values (exact int64 — deliberately the time-domain
    cousin of spectral-band fingerprints, chosen because integer energy
    is bit-reproducible in a SQL oracle where an FFT is not), then one
    bit per adjacent-frame energy delta: bit w (LSB first) is 1 iff
    ``energy[w] < energy[w+1]``. Returns (id, sample_rate, n_samples,
    ehash BIGINT). Trailing partial frames are dropped; > 64 frames
    rejects (63-bit budget) — pick ``window`` accordingly."""
    import numpy as np

    out_schema = f"{id_col} long, sample_rate int, n_samples int, ehash long"

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, rates, ns, hashes = [], [], [], []
            for i, payload in zip(pdf[id_col], pdf[payload_col]):
                rate, samples = parse_wav(bytes(payload))
                n_frames = len(samples) // window
                if n_frames - 1 > 63:
                    raise ValueError(
                        f"audio_energy_hash: {n_frames} frames exceeds the "
                        "63-bit budget; raise window"
                    )
                e = (
                    np.abs(samples[: n_frames * window].astype(np.int64))
                    .reshape(n_frames, window)
                    .sum(axis=1)
                )
                bits = (e[:-1] < e[1:]).astype(np.int64)
                ids.append(int(i))
                rates.append(rate)
                ns.append(len(samples))
                hashes.append(int((bits << np.arange(bits.size)).sum()))
            yield pd.DataFrame(
                {id_col: ids, "sample_rate": rates, "n_samples": ns, "ehash": hashes}
            )

    spark = media.sparkSession
    _cap_arrow_batch(spark, target_rows_per_batch, _MEDIA_BATCH_BYTES)
    return media.select(id_col, payload_col).mapInPandas(gen, schema=out_schema)


def audio_neardup_pairs(
    media: DataFrame,
    max_hamming: int = 1,
    bands: int = 2,
    window: int = 32,
    id_col: str = "media_id",
    payload_col: str = "payload",
    hash_bits: int = 64,
) -> DataFrame:
    """EXACT audio near-duplicate pairs: energy-delta fingerprint +
    the shared banded Hamming join (:func:`_banded_hamming_pairs` —
    pigeonhole recall 1, candidates from an equi-join, never
    all-pairs). Output: (clip_a, clip_b, hamming) with clip_a < clip_b."""
    h = audio_energy_hash(
        media, window=window, id_col=id_col, payload_col=payload_col
    )
    # pass the fingerprint's LIVE bit-width (frames - 1 delta bits) as
    # hash_bits: banding a short hash over the full 64 leaves high bands
    # all-zero — one corpus-wide bucket, quadratic candidates at scale
    # (see _hamming_banding)
    return _banded_hamming_pairs(
        h, "ehash", id_col, max_hamming, bands, "clip_a", "clip_b",
        hash_bits=hash_bits,
    )


def incremental_hamming_neardup_filter(
    new_hashes: DataFrame,
    index_hashes: DataFrame,
    hash_col: str = "dhash",
    id_col: str = "media_id",
    max_hamming: int = 1,
    bands: int = 2,
    hash_bits: int = 64,
) -> DataFrame:
    """Incremental near-dup against a MAINTAINED fingerprint index:
    return the ``new_hashes`` rows whose hash is NOT within
    ``max_hamming`` of any indexed hash. Generic over 64-bit
    fingerprints — the image-dHash and audio-energy-hash paths share it.
    The banding contract is :func:`_hamming_banding`'s and candidates
    are the ``dedup._band_join`` of the two :func:`_hamming_stack` sides,
    as in :func:`_banded_hamming_pairs`. Per-ingest cost is
    O(new + collisions): candidates come from the band equi-join against
    the stored index, never a history rescan — the media member of the
    incremental filters beside dedup.py's text and embedding ones."""
    slices = _hamming_banding(max_hamming, bands, hash_bits)
    # Collapse BOTH sides to DISTINCT hash values before banding, each
    # hash its own id: the drop decision depends only on the
    # fingerprint, so rows sharing a hash share one verdict — and the
    # banded join's candidate mass becomes quadratic in DISTINCT
    # fingerprints, not rows. Found by the r10 100x ingest replay: a
    # synthesized corpus whose 50k images all shared one dHash put the
    # whole batch in one band bucket (~180s per micro-batch of pure
    # duplicate-pair enumeration); after the collapse the same
    # adversarial corpus is one banded row.
    new, old = (
        _hamming_stack(h.select(hash_col).distinct(), hash_col, slices, hash_col)
        for h in (new_hashes, index_hashes)
    )
    dup_hashes = (
        _band_join(new, old, hash_col, key="band_val", carry=(), out=("hn", "ho"))
        .filter(F.bit_count(F.col("hn").bitwiseXOR(F.col("ho"))) <= max_hamming)
        .select(F.col("hn").alias(hash_col))
        .distinct()
    )
    return new_hashes.join(dup_hashes, hash_col, "left_anti")


def synthesize_ppm_video(
    df: DataFrame,
    id_col: str = "doc_id",
    width: int = 5,
    height: int = 4,
    n_frames: int = 3,
    pixel_fn=None,
    id_offset: int = 0,
    target_rows_per_batch: int = 1024,
) -> DataFrame:
    """Deterministic 'video' corpus: ``n_frames`` concatenated P6 frames
    per id, frame f's byte j = ``pixel_fn(id, f, j) % 256`` (closed-form,
    so the whole frame-fingerprint pipeline stays SQL-oracle-able).
    Emits MEDIA_SCHEMA rows (kind='video', meta.n_frames set)."""
    n_bytes = width * height * 3
    if pixel_fn is None:
        pixel_fn = lambda i, f, j: i * 7 + f * 101 + j  # noqa: E731

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf[id_col].astype("int64")
            yield pd.DataFrame(
                {
                    "media_id": ids + id_offset,
                    "kind": "video",
                    "payload": [
                        b"".join(
                            encode_ppm(
                                width,
                                height,
                                bytes(
                                    pixel_fn(int(i), f, j) % 256
                                    for j in range(n_bytes)
                                ),
                            )
                            for f in range(n_frames)
                        )
                        for i in ids
                    ],
                    "meta": [
                        {"width": width, "height": height, "sample_rate": None, "n_frames": n_frames}
                        for _ in ids
                    ],
                }
            )

    spark = df.sparkSession
    _cap_arrow_batch(spark, target_rows_per_batch, _MEDIA_BATCH_BYTES)
    return _fan_out_ids(df, id_col).mapInPandas(gen, schema=MEDIA_SCHEMA)


def video_frame_dhashes(
    media: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
    max_frames: int = 0,
    target_rows_per_batch: int = 1024,
) -> DataFrame:
    """Per-frame perceptual fingerprints for video payloads: split the
    concatenated-P6 stream (:func:`ppm_frame_extractor` — real header
    parsing, ``max_frames`` caps the scan as a corruption guard), dHash
    each frame with the same integer-mean/row-gradient recipe as
    :func:`image_dhash`. One output row per (video, frame):
    (id, frame_idx, width, height, dhash)."""
    import numpy as np

    out_schema = f"{id_col} long, frame_idx int, width int, height int, dhash long"

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, fidx, ws, hs, hashes = [], [], [], [], []
            for i, payload in zip(pdf[id_col], pdf[payload_col]):
                for f, frame in enumerate(
                    ppm_frame_extractor(bytes(payload), max_frames)
                ):
                    w, h, rgb = parse_ppm(frame)
                    if h * (w - 1) > 63:
                        raise ValueError(
                            f"video_frame_dhashes: {w}x{h} frame yields "
                            f"{h * (w - 1)} gradient bits, over the 63-bit "
                            "budget; resize frames first"
                        )
                    px = np.frombuffer(rgb, dtype=np.uint8).reshape(h, w, 3)
                    g = px.astype(np.int64).sum(axis=2) // 3
                    bits = (g[:, :-1] < g[:, 1:]).astype(np.int64).reshape(-1)
                    ids.append(int(i))
                    fidx.append(f)
                    ws.append(w)
                    hs.append(h)
                    hashes.append(int((bits << np.arange(bits.size)).sum()))
            yield pd.DataFrame(
                {
                    id_col: ids,
                    "frame_idx": fidx,
                    "width": ws,
                    "height": hs,
                    "dhash": hashes,
                }
            )

    spark = media.sparkSession
    _cap_arrow_batch(spark, target_rows_per_batch, _MEDIA_BATCH_BYTES)
    return media.select(id_col, payload_col).mapInPandas(gen, schema=out_schema)


def video_neardup_pairs(
    media: DataFrame,
    min_shared_frames: int = 2,
    id_col: str = "media_id",
    payload_col: str = "payload",
    max_frames: int = 0,
) -> DataFrame:
    """Video near-duplicate pairs by shared frame fingerprints: two
    videos pair when they share >= ``min_shared_frames`` DISTINCT frame
    dhash values (the shot-level fingerprint-overlap shape). Candidates
    come from the frame-hash EQUI-JOIN — a pair is only ever considered
    if some frame hash collides, never all-pairs — and the count of
    distinct shared hashes per pair is one grouped aggregate over the
    join. Output: (vid_a, vid_b, shared_frames) with vid_a < vid_b."""
    fh = video_frame_dhashes(
        media, id_col=id_col, payload_col=payload_col, max_frames=max_frames
    )
    sets = fh.select(F.col(id_col).alias("vid"), "dhash").distinct()
    a = sets.select(F.col("vid").alias("vid_a"), "dhash")
    b = sets.select(F.col("vid").alias("vid_b"), "dhash")
    return (
        a.join(b, "dhash")
        .filter(F.col("vid_a") < F.col("vid_b"))
        .groupBy("vid_a", "vid_b")
        .agg(F.countDistinct("dhash").cast("int").alias("shared_frames"))
        .filter(F.col("shared_frames") >= min_shared_frames)
    )


def image_neardup_pairs(
    media: DataFrame,
    max_hamming: int = 1,
    bands: int = 2,
    id_col: str = "media_id",
    payload_col: str = "payload",
    hash_bits: int = 64,
) -> DataFrame:
    """EXACT image near-duplicate pairs: dHash + banded Hamming join.

    The 64-bit dhash is split into ``bands`` contiguous bit bands; by
    pigeonhole, any pair within Hamming distance ``max_hamming`` agrees
    EXACTLY on at least one band whenever ``bands > max_hamming`` — so
    the (band_idx, band_val) equi-join generates every qualifying pair
    (recall 1, this is exact blocking, not LSH) and verification is just
    ``bit_count(xor) <= max_hamming`` on the candidates. At corpus scale
    this is the same posture as the minhash band join — the same
    ``dedup._band_join``, via :func:`_banded_hamming_pairs`: candidates
    from an equi-join, never all-pairs. Output: (img_a, img_b, hamming)
    with img_a < img_b.
    """
    h = image_dhash(media, id_col=id_col, payload_col=payload_col)
    return _banded_hamming_pairs(
        h, "dhash", id_col, max_hamming, bands, "img_a", "img_b",
        hash_bits=hash_bits,
    )


def _band_slices(hash_bits: int, bands: int) -> list:
    """Balanced (shift, mask) slices covering bits [0, hash_bits):
    the first ``hash_bits % bands`` bands get ``hash_bits // bands + 1``
    bits, the rest ``hash_bits // bands``. Every band is NON-EMPTY
    (hash_bits >= bands is validated by :func:`_hamming_banding`) — a
    uniform ceil width can leave the last band entirely past the live
    bits (e.g. hash_bits=4, bands=3 -> band 2 covers bits 4-5,
    identically zero), silently reintroducing the one-bucket quadratic
    the live-bit banding exists to kill. Disjoint + covering + bands >
    max_hamming keeps the pigeonhole recall-1 guarantee."""
    base, rem = divmod(hash_bits, bands)
    slices, shift = [], 0
    for b in range(bands):
        width = base + (1 if b < rem else 0)
        slices.append((shift, (1 << width) - 1))
        shift += width
    return slices


def _hamming_banding(max_hamming: int, bands: int, hash_bits: int) -> list:
    """The banding contract of the Hamming family: ``bands`` contiguous
    bit bands over the fingerprint's ``hash_bits`` LIVE bits, with
    0 <= max_hamming < bands <= hash_bits <= 64. Then by pigeonhole
    every pair within ``max_hamming`` agrees exactly on at least one
    band, so the band equi-join has recall 1 (exact blocking, not LSH);
    anything else is a ValueError. Returns the :func:`_band_slices`.

    ``hash_bits`` MUST be the live bit-width. Banding a 31-bit hash over
    64 bits leaves the high band identically zero, so that band's
    equi-join holds the ENTIRE corpus in one bucket and the candidate
    stream quadruples with every data doubling — found as a 100x-scale
    hang (c52: 125B candidate pairs), invisible at small SF where n^2/2
    of a dead band still fits in a second. Pigeonhole needs only that
    the bands COVER the live bits, so the balanced split over
    ``hash_bits`` preserves recall 1."""
    if max_hamming < 0:
        raise ValueError(f"max_hamming={max_hamming} must be >= 0")
    if bands <= max_hamming:
        raise ValueError(
            f"bands={bands} must exceed max_hamming={max_hamming} for the "
            "pigeonhole recall guarantee"
        )
    if hash_bits < bands or hash_bits > 64:
        raise ValueError(
            f"hash_bits={hash_bits} must lie in [bands={bands}, 64]"
        )
    return _band_slices(hash_bits, bands)


def _hamming_stack(hashes: DataFrame, hash_col: str, slices: list, *cols: str) -> DataFrame:
    """(*cols, band_idx, band_val): one row per ``hashes`` row and band,
    band b's value the bits of ``hash_col`` under slice b of ``slices``
    (:func:`_hamming_banding`)."""
    return hashes.select(
        *cols,
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col(hash_col), shift).bitwiseAND(F.lit(mask))
                    for shift, mask in slices
                ]
            )
        ).alias("band_idx", "band_val"),
    )


def _banded_hamming_pairs(
    hashes: DataFrame,
    hash_col: str,
    id_col: str,
    max_hamming: int,
    bands: int,
    a_name: str,
    b_name: str,
    hash_bits: int = 64,
) -> DataFrame:
    """EXACT Hamming-bounded pairs over a hash column via banded
    blocking (contract: :func:`_hamming_banding`): candidates are the
    ``dedup._band_join`` self-join of the :func:`_hamming_stack`, never
    all-pairs, and verification is ``bit_count(xor) <= max_hamming``.
    Shared by the image-dHash and audio-energy-hash near-dup paths and
    the media ingest's intra-batch step. Output: (a_name, b_name,
    hamming) with a_name < b_name."""
    slices = _hamming_banding(max_hamming, bands, hash_bits)
    # Lazy checkpoint pins ONE materialization of the (id, hash) frame
    # — tiny (16 bytes/row) — before it fans out to both join sides.
    # Without it each side re-derives the hash from its upstream plan,
    # and for the media queries that upstream is the full Python
    # synthesize -> decode -> fingerprint mapInPandas chain: the r8 10x
    # scale step measured c52 at 42.3s with the double evaluation,
    # 2.4x the linear expectation (same lesson as BPE's lineage pin).
    hashes = hashes.select(F.col(id_col), F.col(hash_col)).localCheckpoint(
        eager=False
    )
    stacked = _hamming_stack(hashes, hash_col, slices, id_col, hash_col)
    return (
        _band_join(
            stacked, stacked, id_col, F.col(a_name) < F.col(b_name),
            key="band_val", carry=((hash_col, "h"),), out=(a_name, b_name),
        )
        .select(
            a_name,
            b_name,
            F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )
