"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata, decode/feature steps as Arrow-batched
``mapInPandas`` stages.

The image and audio kernels are REAL, dependency-free decoders over
uncompressed container formats:

- images are binary P6 PPM (``parse_ppm`` / ``encode_ppm``): header
  parse -> (width, height, 3) + raw RGB pixels; features are a real
  8x8 average-hash (integer luma, integer mean comparison — no float
  in the bit decisions) and an 8-dim channel/quadrant statistics
  vector; resize is true nearest-neighbor re-encoded as P6;
- audio is RIFF/WAVE 16-bit PCM (``parse_wav``): chunk-walk to the
  fmt/data chunks -> sample rate + exact duration, fingerprint is a
  48-bit block-energy contour (consecutive block comparisons, integer
  arithmetic — a chromaprint-shaped real acoustic fingerprint).

- video is YUV4MPEG2 / Y4M (``parse_y4m``): real stream-header parse
  (tagged ``W``/``H``/``F`` params), FRAME-marker walk, per-frame
  C444 planes; :func:`decode_video_frames` samples every Nth frame
  and hashes its Y plane with the same integer 8x8 average-hash the
  image path uses, plus exact rational frame timestamps.

The synthetic corpus (:func:`media_rows`) emits genuine PPM/WAV/Y4M
payloads, so all three kernels decode real bytes and the driver
oracles re-derive the same values by running the identical
pure-Python kernels locally. :func:`frame_sample_plan` additionally
demonstrates the no-decode planning path: 1->N frame-row expansion as
a pure-DataFrame explode, no UDF at all.

Compressed formats (JPEG/OGG/MP4) drop in by replacing the parse
functions with PIL/ffmpeg calls — the Spark-side shape (schemas,
Arrow batch iteration, partitioning, explode plan) is identical.
"""

from __future__ import annotations

import struct
from typing import TYPE_CHECKING

from pyspark.sql import functions as F
from pyspark.sql import types as T

from .rows import map_rows

if TYPE_CHECKING:
    from pyspark.sql import DataFrame

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("url", T.StringType(), True),
        T.StructField("kind", T.StringType(), True),  # image|audio|video
        T.StructField("content", T.BinaryType(), True),
        T.StructField("content_type", T.StringType(), True),
        T.StructField("n_bytes", T.LongType(), True),
    ]
)

IMAGE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("channels", T.IntegerType(), True),
        T.StructField("phash", T.StringType(), True),
        T.StructField("features", T.ArrayType(T.FloatType()), True),
    ]
)


# ---------------------------------------------------------------------------
# image kernels: P6 PPM
# ---------------------------------------------------------------------------

def encode_ppm(width: int, height: int, rgb: bytes) -> bytes:
    """Raw RGB bytes (row-major, 3 bytes/pixel) -> binary P6 PPM."""
    if len(rgb) != width * height * 3:
        raise ValueError(
            f"rgb payload is {len(rgb)} bytes, want {width * height * 3}"
        )
    return f"P6\n{width} {height}\n255\n".encode() + rgb


def parse_ppm(data: bytes) -> tuple[int, int, bytes]:
    """Binary P6 PPM -> (width, height, raw RGB bytes).

    Real header parse: magic, then three whitespace-separated decimal
    tokens (comments ``#...`` skipped, any whitespace run accepted),
    then a single whitespace byte before the raster."""
    if not data.startswith(b"P6"):
        raise ValueError("not a binary PPM (P6) payload")
    pos = 2
    vals: list[int] = []
    while len(vals) < 3:
        while pos < len(data) and data[pos : pos + 1].isspace():
            pos += 1
        if pos < len(data) and data[pos : pos + 1] == b"#":
            while pos < len(data) and data[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(data) and data[pos : pos + 1].isdigit():
            pos += 1
        if pos == start:
            raise ValueError("malformed PPM header")
        vals.append(int(data[start:pos]))
    pos += 1  # exactly one whitespace byte separates header and raster
    width, height, maxval = vals
    if maxval != 255:
        raise ValueError(f"only maxval=255 PPMs supported, got {maxval}")
    need = width * height * 3
    raster = data[pos : pos + need]
    if len(raster) != need:
        raise ValueError(f"PPM raster truncated: {len(raster)}/{need} bytes")
    return width, height, raster


def _luma_grid(width: int, height: int, rgb: bytes) -> list[list[int]]:
    """8x8 nearest-neighbor grid of integer lumas (0..255_000 scale:
    luma*1000 to stay in exact integer arithmetic)."""
    grid = []
    for gy in range(8):
        row = []
        sy = (gy * height) // 8
        for gx in range(8):
            sx = (gx * width) // 8
            o = (sy * width + sx) * 3
            r, g, b = rgb[o], rgb[o + 1], rgb[o + 2]
            row.append(299 * r + 587 * g + 114 * b)  # x1000 luma
        grid.append(row)
    return grid


def image_features_kernel(content: bytes) -> tuple[int, int, int, str, list[float]]:
    """Real decode: P6 parse + 8x8 average-hash + channel/quadrant
    statistics. All hash-bit decisions are exact integer comparisons
    (luma*64 > total); the feature floats are single divisions of
    integer sums, bit-stable across platforms."""
    width, height, rgb = parse_ppm(content)
    grid = _luma_grid(width, height, rgb)
    total = sum(sum(row) for row in grid)
    bits = 0
    for row in grid:
        for v in row:
            bits = (bits << 1) | (1 if v * 64 > total else 0)
    phash = f"{bits:016x}"

    n = width * height
    sums = [0, 0, 0]
    for c in range(3):
        sums[c] = sum(rgb[c::3])
    luma_sum = 299 * sums[0] + 587 * sums[1] + 114 * sums[2]
    # quadrant lumas from the exact 8x8 grid (x1000 scale, 16 cells)
    quads = [
        sum(grid[gy][gx] for gy in ys for gx in xs)
        for ys, xs in (
            (range(4), range(4)),
            (range(4), range(4, 8)),
            (range(4, 8), range(4)),
            (range(4, 8), range(4, 8)),
        )
    ]
    features = [
        sums[0] / (n * 255),
        sums[1] / (n * 255),
        sums[2] / (n * 255),
        luma_sum / (n * 255_000),
        *[q / (16 * 255_000) for q in quads],
    ]
    return width, height, 3, phash, [round(f, 6) for f in features]


def resize_kernel(content: bytes, width: int, height: int) -> bytes:
    """Real nearest-neighbor resize, re-encoded as P6 PPM."""
    src_w, src_h, rgb = parse_ppm(content)
    out = bytearray(width * height * 3)
    for dy in range(height):
        sy = (dy * src_h) // height
        row_off = sy * src_w
        for dx in range(width):
            sx = (dx * src_w) // width
            so = (row_off + sx) * 3
            do = (dy * width + dx) * 3
            out[do : do + 3] = rgb[so : so + 3]
    return encode_ppm(width, height, bytes(out))


# ---------------------------------------------------------------------------
# audio kernels: RIFF/WAVE 16-bit PCM
# ---------------------------------------------------------------------------

def encode_wav(sample_rate: int, samples: list[int]) -> bytes:
    """Mono 16-bit PCM samples -> RIFF/WAVE bytes."""
    data = struct.pack(f"<{len(samples)}h", *samples)
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def parse_wav(data: bytes) -> tuple[int, int, int, list[int]]:
    """RIFF/WAVE -> (sample_rate, n_channels, bits, samples). Real
    chunk walk: any chunk order, unknown chunks skipped (word-aligned
    as the spec requires)."""
    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt, pcm = 12, None, None
    while pos + 8 <= len(data):
        cid = data[pos : pos + 4]
        (size,) = struct.unpack_from("<I", data, pos + 4)
        body = data[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            pcm = body
        pos += 8 + size + (size & 1)
    if fmt is None or pcm is None:
        raise ValueError("WAVE missing fmt/data chunk")
    audio_format, n_channels, sample_rate, _, _, bits = fmt
    if audio_format != 1 or bits != 16:
        raise ValueError(f"only 16-bit PCM supported (fmt={audio_format}, bits={bits})")
    samples = list(struct.unpack(f"<{len(pcm) // 2}h", pcm[: len(pcm) & ~1]))
    return sample_rate, n_channels, bits, samples


_FP_BLOCKS = 49  # 48 consecutive-comparison bits + sign of first block


def audio_features_kernel(content: bytes) -> tuple[int, int, str]:
    """Real WAV decode: (sample_rate, exact duration_ms, 48-bit
    block-energy-contour fingerprint as 12 hex chars). Energy per
    block is an integer sum of |sample|; fingerprint bits compare
    consecutive blocks — the chromaprint shape, exact arithmetic."""
    sample_rate, n_channels, _bits, samples = parse_wav(content)
    n_frames = len(samples) // n_channels
    duration_ms = (n_frames * 1000) // sample_rate
    energies = []
    for b in range(_FP_BLOCKS):
        lo = (b * len(samples)) // _FP_BLOCKS
        hi = ((b + 1) * len(samples)) // _FP_BLOCKS
        energies.append(sum(abs(s) for s in samples[lo:hi]))
    bits = 0
    for b in range(_FP_BLOCKS - 1):
        bits = (bits << 1) | (1 if energies[b] > energies[b + 1] else 0)
    return sample_rate, duration_ms, f"{bits:012x}"


# ---------------------------------------------------------------------------
# video kernels: YUV4MPEG2 (Y4M), C444
# ---------------------------------------------------------------------------

def encode_y4m(
    width: int, height: int, fps_num: int, fps_den: int, frames: list[bytes]
) -> bytes:
    """C444 frames (Y, U, V planes concatenated, w*h bytes each) ->
    YUV4MPEG2 stream bytes."""
    plane = width * height
    for f in frames:
        if len(f) != 3 * plane:
            raise ValueError(f"frame is {len(f)} bytes, want {3 * plane} (C444)")
    head = f"YUV4MPEG2 W{width} H{height} F{fps_num}:{fps_den} Ip A1:1 C444\n"
    return head.encode() + b"".join(b"FRAME\n" + f for f in frames)


def parse_y4m(data: bytes) -> tuple[int, int, int, int, list[bytes]]:
    """YUV4MPEG2 -> (width, height, fps_num, fps_den, C444 frames).

    Real stream parse: the signature line's tagged parameters in any
    order (unknown tags skipped per spec), then a FRAME-marker walk —
    frame headers may carry their own parameters, which are skipped up
    to the newline."""
    nl = data.find(b"\n")
    if nl < 0 or not data.startswith(b"YUV4MPEG2"):
        raise ValueError("not a YUV4MPEG2 payload")
    width = height = fps_num = fps_den = None
    colorspace = "C444"
    for tok in data[9:nl].split(b" "):
        if not tok:
            continue
        tag, val = tok[:1], tok[1:]
        if tag == b"W":
            width = int(val)
        elif tag == b"H":
            height = int(val)
        elif tag == b"F":
            num, den = val.split(b":")
            fps_num, fps_den = int(num), int(den)
        elif tag == b"C":
            colorspace = "C" + val.decode("ascii", "replace")
    if width is None or height is None or fps_num is None:
        raise ValueError("Y4M header missing W/H/F parameters")
    if colorspace != "C444":
        raise ValueError(f"only C444 Y4M supported, got {colorspace}")
    frame_bytes = 3 * width * height
    frames: list[bytes] = []
    pos = nl + 1
    while pos < len(data):
        if data[pos : pos + 5] != b"FRAME":
            raise ValueError(f"expected FRAME marker at byte {pos}")
        fnl = data.find(b"\n", pos)
        if fnl < 0:
            raise ValueError("unterminated FRAME header")
        body = data[fnl + 1 : fnl + 1 + frame_bytes]
        if len(body) != frame_bytes:
            raise ValueError(
                f"Y4M frame truncated: {len(body)}/{frame_bytes} bytes"
            )
        frames.append(body)
        pos = fnl + 1 + frame_bytes
    return width, height, fps_num, fps_den, frames


def _plane_phash(width: int, height: int, plane: bytes) -> str:
    """8x8 average-hash of a single byte plane — same integer decision
    rule as the image path (cell*64 > total)."""
    cells = []
    for gy in range(8):
        sy = (gy * height) // 8
        for gx in range(8):
            sx = (gx * width) // 8
            cells.append(plane[sy * width + sx])
    total = sum(cells)
    bits = 0
    for v in cells:
        bits = (bits << 1) | (1 if v * 64 > total else 0)
    return f"{bits:016x}"


def video_frames_kernel(
    content: bytes, every_nth: int = 2
) -> list[tuple[int, int, int, int, str]]:
    """Real Y4M decode + frame sampling: one (frame_idx, ts_ms, width,
    height, frame_phash) per every_nth frame. ts_ms is the exact
    rational frame time floored to ms: idx * 1000 * fps_den // fps_num."""
    width, height, fps_num, fps_den, frames = parse_y4m(content)
    out = []
    for idx in range(0, len(frames), every_nth):
        y_plane = frames[idx][: width * height]
        ts_ms = (idx * 1000 * fps_den) // fps_num
        out.append((idx, ts_ms, width, height, _plane_phash(width, height, y_plane)))
    return out


# ---------------------------------------------------------------------------
# synthetic corpus (real PPM/WAV/Y4M payloads)
# ---------------------------------------------------------------------------

_WAV_RATES = (8000, 16000, 22050, 32000, 44100)


_Y4M_FPS = ((12, 1), (25, 1), (30000, 1001))


def media_rows(n: int = 100) -> list[tuple]:
    """Deterministic media rows with REAL payloads for all three
    modalities: P6 PPM images, 16-bit PCM WAVs, and C444 Y4M videos —
    all built from integer formulas (pure Python, so the driver
    oracles re-derive byte-identical rows)."""
    rows = []
    for i in range(n):
        kind = ("image", "audio", "video")[i % 3]
        if kind == "image":
            w, h = 8 + (i * 7) % 33, 8 + (i * 11) % 29
            rgb = bytes(
                ((x * 7 + y * 13 + i * 31 + c * 97) % 256)
                for y in range(h)
                for x in range(w)
                for c in range(3)
            )
            payload, ctype = encode_ppm(w, h, rgb), "image/x-portable-pixmap"
        elif kind == "audio":
            rate = _WAV_RATES[(i // 3) % len(_WAV_RATES)]
            n_samples = 400 + (i * 37) % 900
            samples = [
                (((t * (i + 3) * 7919) % 65536) - 32768) for t in range(n_samples)
            ]
            payload, ctype = encode_wav(rate, samples), "audio/wav"
        else:
            w, h = 16 + (i % 5) * 4, 12 + (i % 3) * 4
            fps_num, fps_den = _Y4M_FPS[(i // 3) % len(_Y4M_FPS)]
            n_frames = 3 + i % 5
            frames = [
                bytes(
                    ((x * 5 + y * 17 + f * 41 + i * 13 + p * 59) % 256)
                    for p in range(3)
                    for y in range(h)
                    for x in range(w)
                )
                for f in range(n_frames)
            ]
            payload = encode_y4m(w, h, fps_num, fps_den, frames)
            ctype = "video/x-yuv4mpeg"
        rows.append(
            (i, f"http://media.example.org/{kind}/{i}", kind, payload, ctype,
             len(payload))
        )
    return rows


def synthesize_media(spark, n: int = 100) -> "DataFrame":
    """Deterministic media table over :func:`media_rows`."""
    # tiny synthetic table: a handful of partitions, not
    # default.parallelism-many one-row Python-worker spin-ups
    return spark.createDataFrame(media_rows(n), schema=MEDIA_SCHEMA).repartition(4)


# ---------------------------------------------------------------------------
# Arrow-batched operators
# ---------------------------------------------------------------------------

def _payload(content) -> bytes:
    return bytes(content) if content is not None else b""


def decode_image_features(media: "DataFrame") -> "DataFrame":
    """image rows -> (media_id, width, height, channels, phash,
    features) via mapInPandas over the real PPM kernel."""
    return map_rows(
        media.filter(F.col("kind") == "image"), ["media_id", "content"],
        lambda mid, content: [(mid, *image_features_kernel(_payload(content)))],
        IMAGE_FEATURES_SCHEMA,
    )


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("content", T.BinaryType(), True),
        T.StructField("n_bytes", T.LongType(), True),
    ]
)


def resize_images(
    media: "DataFrame", width: int = 64, height: int = 64
) -> "DataFrame":
    """image rows -> nearest-neighbor-resized P6 bytes via mapInPandas
    (Arrow batches of opaque bytes in AND out — the shape that matters
    for a 100 TB media pipeline: bytes never hit the driver, batches
    stream)."""

    def resize(mid, content):
        resized = resize_kernel(_payload(content), width, height)
        return [(mid, width, height, resized, len(resized))]

    return map_rows(
        media.filter(F.col("kind") == "image"), ["media_id", "content"],
        resize, RESIZED_SCHEMA,
    )


AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),
        T.StructField("fingerprint", T.StringType(), True),
    ]
)


def decode_audio_features(media: "DataFrame") -> "DataFrame":
    """audio rows -> (sample_rate, exact PCM duration, block-energy
    fingerprint) via mapInPandas over the real WAV kernel."""
    return map_rows(
        media.filter(F.col("kind") == "audio"), ["media_id", "content"],
        lambda mid, content: [(mid, *audio_features_kernel(_payload(content)))],
        AUDIO_FEATURES_SCHEMA,
    )


VIDEO_FRAMES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), True),
        T.StructField("ts_ms", T.LongType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("frame_phash", T.StringType(), True),
    ]
)


def decode_video_frames(media: "DataFrame", every_nth: int = 2) -> "DataFrame":
    """video rows -> one row per sampled frame via mapInPandas over the
    real Y4M kernel: exact rational timestamps + integer average-hash
    of each sampled frame's Y plane. The 1->N expansion happens inside
    the Arrow batch (a single video row yields several output rows), so
    frame rows stream out without ever collecting a whole video's
    frames anywhere but the worker."""
    return map_rows(
        media.filter(F.col("kind") == "video"), ["media_id", "content"],
        lambda mid, content: [
            (mid, *frame)
            for frame in video_frames_kernel(_payload(content), every_nth)
        ],
        VIDEO_FRAMES_SCHEMA,
    )


def frame_sample_plan(
    media: "DataFrame",
    every_n_seconds: int = 5,
    bytes_per_second: int = 100_000,
) -> "DataFrame":
    """Video frame-sampling *plan*: one row per planned frame WITHOUT
    decoding (the no-UDF planning path — schedule frame extraction
    before paying for it; the real decode is
    :func:`decode_video_frames`). Demonstrates the explode pattern for
    1->N media expansion as pure DataFrame ops. ``bytes_per_second``
    calibrates the duration estimate to the corpus's bitrate (the
    synthetic media uses tiny payloads)."""
    est_duration = (F.col("n_bytes") / F.lit(bytes_per_second)).cast("int") + 1
    return (
        media.filter(F.col("kind") == "video")
        .withColumn(
            "frame_ts",
            F.explode(
                F.sequence(
                    F.lit(0), est_duration * F.lit(1), F.lit(every_n_seconds)
                )
            ),
        )
        .select("media_id", "url", "frame_ts")
    )


def perturb_ppm(content: bytes, step: int = 23, delta: int = 64) -> bytes:
    """Deterministic local perturbation of a P6 image: every
    ``step``-th pixel's channels shift by ``delta`` (mod 256) — enough
    to flip a few average-hash grid bits (a GLOBAL shift would flip
    none: the hash compares each cell against the global mean, which
    shifts with it). Pure Python, shared by the Spark near-dup corpus
    builder and the DuckDB oracle."""
    width, height, rgb = parse_ppm(content)
    out = bytearray(rgb)
    for j in range(0, len(out), 3):
        if (j // 3) % step == 0:
            out[j] = (out[j] + delta) % 256
            out[j + 1] = (out[j + 1] + delta) % 256
            out[j + 2] = (out[j + 2] + delta) % 256
    return encode_ppm(width, height, bytes(out))


def phash_pairs(
    features: "DataFrame",
    id_col: str = "media_id",
    phash_col: str = "phash",
    max_hamming: int = 10,
) -> "DataFrame":
    """(media_id_a, media_id_b, hamming): image near-duplicate pairs by
    perceptual-hash Hamming distance — the image twin of SimHash text
    dedup (near-identical frames/thumbnails survive re-encodes that
    break exact digests).

    The 64-bit hex phash splits into two 32-bit halves so the XOR
    popcount stays in exact signed-long arithmetic on both engines
    (bit_count(hi_a^hi_b) + bit_count(lo_a^lo_b)). All-pairs self-join
    here; at corpus scale feed it candidate pairs from the SimHash
    combination-blocking machinery (operators/dedup._simhash_block_rows
    generalizes to any fixed-width signature) instead of the full
    cross.
    """
    from pyspark.sql import functions as F

    h = features.select(
        F.col(id_col).alias("mid"),
        F.conv(F.substring(F.col(phash_col), 1, 8), 16, 10)
        .cast("long")
        .alias("hi"),
        F.conv(F.substring(F.col(phash_col), 9, 8), 16, 10)
        .cast("long")
        .alias("lo"),
    )
    pairs = h.alias("l").join(
        h.alias("r"), F.col("l.mid") < F.col("r.mid")
    )
    ham = (
        F.bit_count(F.col("l.hi").bitwiseXOR(F.col("r.hi")))
        + F.bit_count(F.col("l.lo").bitwiseXOR(F.col("r.lo")))
    ).alias("hamming")
    return (
        pairs.select(
            F.col("l.mid").alias("media_id_a"),
            F.col("r.mid").alias("media_id_b"),
            ham,
        )
        .filter(F.col("hamming") <= max_hamming)
        .select(
            "media_id_a",
            "media_id_b",
            F.col("hamming").cast("long").alias("hamming"),
        )
    )


def media_rows_with_image_dups(
    n: int = 100, id_offset: int = 3_000_000
) -> list[tuple]:
    """media_rows plus a perturbed near-duplicate of every image row
    (perturb_ppm) — the shared corpus for the phash near-dup query and
    its oracle."""
    rows = list(media_rows(n))
    for (mid, url, kind, payload, ctype, _nb) in list(rows):
        if kind != "image":
            continue
        dup = perturb_ppm(payload)
        rows.append(
            (mid + id_offset, url + "?v=2", kind, dup, ctype, len(dup))
        )
    return rows


def scene_changes(
    frames: "DataFrame",
    threshold: int = 13,
    id_col: str = "media_id",
    idx_col: str = "frame_idx",
    phash_col: str = "frame_phash",
) -> "DataFrame":
    """(media_id, prev_idx, frame_idx, hamming): shot-boundary
    detection — consecutive SAMPLED frames whose Y-plane perceptual
    hashes sit >= ``threshold`` Hamming bits apart (the same 64-bit
    split-half XOR-popcount arithmetic as :func:`phash_pairs`, so the
    image near-dup calibration — <= 7 perturbed copy, >= 13 unrelated —
    carries over: a cut looks like an 'unrelated image' jump).

    One window shuffle on media_id; distances are pure bit codegen on
    the (already tiny) frame-metadata table, never the video bytes —
    the decode cost was paid once in :func:`decode_video_frames`.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy(idx_col)
    h = frames.select(
        F.col(id_col).alias("media_id"),
        F.col(idx_col).alias("frame_idx"),
        F.conv(F.substring(F.col(phash_col), 1, 8), 16, 10)
        .cast("long")
        .alias("hi"),
        F.conv(F.substring(F.col(phash_col), 9, 8), 16, 10)
        .cast("long")
        .alias("lo"),
    )
    cur = h.select(
        "media_id",
        "frame_idx",
        "hi",
        "lo",
        F.lag("frame_idx").over(
            Window.partitionBy("media_id").orderBy("frame_idx")
        ).alias("prev_idx"),
        F.lag("hi").over(
            Window.partitionBy("media_id").orderBy("frame_idx")
        ).alias("phi"),
        F.lag("lo").over(
            Window.partitionBy("media_id").orderBy("frame_idx")
        ).alias("plo"),
    ).where(F.col("prev_idx").isNotNull())
    ham = (
        F.bit_count(F.col("hi").bitwiseXOR(F.col("phi")))
        + F.bit_count(F.col("lo").bitwiseXOR(F.col("plo")))
    )
    return (
        cur.withColumn("hamming", ham.cast("long"))
        .where(F.col("hamming") >= threshold)
        .select(
            "media_id",
            F.col("prev_idx").cast("long").alias("prev_idx"),
            F.col("frame_idx").cast("long").alias("frame_idx"),
            "hamming",
        )
    )


def audio_block_energies(content: bytes, n_blocks: int = _FP_BLOCKS) -> list[int]:
    """Integer per-block |sample| energy sums over a WAV payload — the
    contour :func:`audio_features_kernel` fingerprints, exposed as raw
    blocks for segmentation."""
    _rate, _ch, _bits, samples = parse_wav(content)
    out = []
    for b in range(n_blocks):
        lo = (b * len(samples)) // n_blocks
        hi = ((b + 1) * len(samples)) // n_blocks
        out.append(sum(abs(s) for s in samples[lo:hi]))
    return out


AUDIO_BLOCKS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), True),
        T.StructField("block_idx", T.LongType(), True),
        T.StructField("energy", T.LongType(), True),
    ]
)


def decode_audio_blocks(
    media: "DataFrame", n_blocks: int = _FP_BLOCKS
) -> "DataFrame":
    """audio rows -> (media_id, block_idx, energy) via mapInPandas over
    the real WAV kernel (1->n_blocks expansion inside the Arrow
    batch)."""

    def blocks(mid, content):
        try:
            energies = audio_block_energies(_payload(content), n_blocks)
        except Exception:  # noqa: BLE001 — undecodable: skip row
            return []
        return [(mid, i, e) for i, e in enumerate(energies)]

    return map_rows(
        media.filter(F.col("kind") == "audio"), ["media_id", "content"], blocks,
        AUDIO_BLOCKS_SCHEMA,
    )


def active_segments(
    blocks: "DataFrame",
    num: int = 1,
    den: int = 2,
) -> "DataFrame":
    """(media_id, seg_id, start_block, end_block, n_blocks): voice/
    music activity segmentation — maximal runs of consecutive blocks
    whose energy exceeds ``num/den`` of the track's mean block energy
    (exact integer test: energy * den * n > sum(energies) * num), via
    the gaps-and-islands window (block_idx - row_number over active
    blocks).

    Two window passes partitioned on media_id over the block-metadata
    table (n_blocks rows per track, never samples); the threshold is
    per-track, so a loud corpus member can't mask a quiet one.
    """
    if den < 1 or num < 0:
        raise ValueError("num must be >= 0 and den >= 1")
    from pyspark.sql import Window

    tot = blocks.groupBy("media_id").agg(
        F.sum("energy").alias("_sum"), F.count("*").alias("_n")
    )
    active = blocks.join(tot, "media_id").where(
        F.col("energy") * den * F.col("_n") > F.col("_sum") * num
    )
    w = Window.partitionBy("media_id").orderBy("block_idx")
    isl = active.select(
        "media_id",
        "block_idx",
        (F.col("block_idx") - F.row_number().over(w)).alias("_grp"),
    )
    return (
        isl.groupBy("media_id", "_grp")
        .agg(
            F.min("block_idx").alias("start_block"),
            F.max("block_idx").alias("end_block"),
            F.count("*").alias("n_blocks"),
        )
        .select(
            "media_id",
            F.row_number()
            .over(
                Window.partitionBy("media_id").orderBy("start_block")
            )
            .cast("long")
            .alias("seg_id"),
            "start_block",
            "end_block",
            "n_blocks",
        )
    )


_SCENE_FRAMES = 4   # frames per scene
_SCENE_COUNT = 3    # scenes per video


def scene_video_rows(n: int = 12) -> list[tuple]:
    """(media_id, url, kind, payload, content_type, n_bytes): Y4M
    videos with PLANTED scene structure — within a scene every frame
    is the scene's base gradient plus a tiny per-frame jitter (one
    pixel row nudged), across scenes the gradient parameters jump.
    Consecutive-frame phash distance is therefore ~0 within scenes and
    'unrelated-image' large at the two cut points, which is the
    calibration :func:`scene_changes` detects. Pure integer formulas —
    the oracle re-derives byte-identical payloads."""
    rows = []
    for i in range(n):
        w, h = 16 + (i % 3) * 8, 16 + (i % 2) * 8
        fps_num, fps_den = _Y4M_FPS[i % len(_Y4M_FPS)]
        frames = []
        for s in range(_SCENE_COUNT):
            base = bytes(
                ((x * (5 + 2 * s) + y * (17 + 7 * s) + i * 13 + s * 101 + p * 59)
                 % 256)
                for p in range(3)
                for y in range(h)
                for x in range(w)
            )
            for f in range(_SCENE_FRAMES):
                jittered = bytearray(base)
                # nudge one Y-plane row by a small delta — visible to
                # the eye, invisible to an 8x8 average hash
                row = (f * 3) % h
                for x in range(w):
                    jittered[row * w + x] = (jittered[row * w + x] + f) % 256
                frames.append(bytes(jittered))
        payload = encode_y4m(w, h, fps_num, fps_den, frames)
        rows.append(
            (i, f"http://media.example.org/scene/{i}", "video", payload,
             "video/x-yuv4mpeg", len(payload))
        )
    return rows


def silent_audio_rows(n: int = 24) -> list[tuple]:
    """(media_id, url, kind, payload, content_type, n_bytes): WAVs
    with a PLANTED silence window — blocks [s, s+10) of the 49-block
    contour are zeroed, so :func:`active_segments` must find exactly
    two active runs per track. Integer formulas only."""
    rows = []
    for i in range(n):
        rate = _WAV_RATES[i % len(_WAV_RATES)]
        n_samples = _FP_BLOCKS * (20 + (i % 4) * 5)
        s_block = 5 + (i * 7) % 30  # silence start in [5, 34]
        samples = []
        for t in range(n_samples):
            block = (t * _FP_BLOCKS) // n_samples
            if s_block <= block < s_block + 10:
                samples.append(0)
            else:
                v = ((t * (i + 3) * 7919) % 65536) - 32768
                samples.append(v if v != 0 else 1)
        payload = encode_wav(rate, samples)
        rows.append(
            (i, f"http://media.example.org/silent/{i}", "audio", payload,
             "audio/wav", len(payload))
        )
    return rows


def synthesize_scene_media(spark, n_videos: int = 12, n_audio: int = 24) -> "DataFrame":
    rows = scene_video_rows(n_videos) + [
        (1000 + i, url, kind, payload, ct, nb)
        for i, url, kind, payload, ct, nb in silent_audio_rows(n_audio)
    ]
    return spark.createDataFrame(
        rows,
        "media_id long, url string, kind string, content binary, "
        "content_type string, n_bytes long",
    )
