"""Multimodal (image/audio/video) column handling for training-data
pipelines.

Media is carried as an opaque ``binary`` column plus typed metadata —
the lakehouse-standard layout (one row per asset, bytes inline for small
assets, a URI for large ones). The Spark-side plumbing here is real and
tested: schemas, Arrow-batched ``mapInPandas`` UDF signatures, batch
shaping, and partition sizing. Several codecs are REAL pure-stdlib/numpy
implementations that run in this container — PPM/BMP image decode, RIFF
WAV read/write, a full baseline JPEG encoder AND decoder
(`operators/jpeg.py`, round 6), and a PNG encoder AND decoder with all
five row filters (`operators/png.py`, round 7). What remains stubbed
behind a deterministic fake or ``NotImplementedError`` is only the tail
that needs external libraries: palette/interlaced PNG,
progressive/arithmetic JPEG, audio resample beyond PCM, and
container-format video frame extraction.

Scale notes: media rows are wide (MBs); ``MEDIA_ROWS_PER_PARTITION``-sized
repartitioning keeps Arrow batches and executor memory bounded —
``spark.sql.files.maxPartitionBytes`` governs the scan side, and
``spark.sql.execution.arrow.maxRecordsPerBatch`` caps what each pandas UDF
invocation holds. Feature extraction is a narrow map: no shuffle at all
unless the caller repartitions.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# Canonical media-table schema: binary payload + typed metadata.
MEDIA_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("media_type", StringType(), False),  # image|audio|video
        StructField("mime", StringType(), True),
        StructField("payload", BinaryType(), True),  # inline bytes (small)
        StructField("uri", StringType(), True),  # external location (large)
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("duration_ms", LongType(), True),
    ]
)

MEDIA_ROWS_PER_PARTITION = 64  # wide rows: keep Arrow batches bounded

_FEATURE_SCHEMA = (
    "asset_id bigint, media_type string, n_bytes bigint, "
    "payload_sha256 string, feat_mean double, feat_dim int"
)

_FRAME_SCHEMA = (
    "asset_id bigint, frame_idx int, frame_sha256 string"
)


def _map_assets(df: DataFrame, per_asset, schema: str) -> DataFrame:
    """Arrow-batched ``mapInPandas`` of ``per_asset(raw)`` over the
    ``(asset_id, payload)`` rows of ``df``: ``schema``'s first column is
    ``asset_id``, its last ``err``, and ``per_asset`` returns the values
    between them. A ``ValueError`` or ``NotImplementedError`` becomes the
    row's ``err`` (its message cut to 80 chars, the other columns NULL),
    so one malformed or exotic file cannot kill a 100 TB stage. A NULL
    payload decodes as empty bytes. Narrow map, no shuffle."""
    cols = [c.split()[0] for c in schema.split(",")]
    blanks = (None,) * (len(cols) - 2)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for asset_id, payload in zip(pdf["asset_id"], pdf["payload"]):
                raw = bytes(payload) if payload is not None else b""
                try:
                    rows.append((asset_id, *per_asset(raw), None))
                except (ValueError, NotImplementedError) as ex:
                    rows.append((asset_id, *blanks, str(ex)[:80]))
            yield pd.DataFrame(rows, columns=cols)

    return df.mapInPandas(fn, schema)


def media_batch_conf(target_rows: int | None = None) -> dict[str, str]:
    """Session conf bounding how many wide media rows a pandas UDF sees at
    once — the no-extra-pass way to control batch memory.

    ``spark.sql.execution.arrow.maxRecordsPerBatch`` caps every Arrow batch
    crossing into ``mapInPandas`` regardless of partition size, and
    ``spark.sql.files.maxPartitionBytes`` bounds what one scan task holds;
    together they fit batch + decoded representation in executor memory
    with NO job run before the transform (an eager ``count()`` here would
    add a full input pass at 100 TB).
    """
    target = target_rows or MEDIA_ROWS_PER_PARTITION
    return {
        "spark.sql.execution.arrow.maxRecordsPerBatch": str(target),
        "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    }


def repartition_for_media(df: DataFrame, target_rows: int | None = None) -> DataFrame:
    """Spread a media scan over the session's parallelism WITHOUT an
    eager count: a ``repartition`` is added only if the input arrives in
    fewer partitions than cores. No action runs before the transform.

    ``target_rows`` is advisory here: per-batch row caps are session conf
    (``spark.sql.execution.arrow.maxRecordsPerBatch``), which this
    function deliberately does NOT mutate — a transform silently
    reconfiguring the whole session would throttle every later pandas
    stage. Apply :func:`media_batch_conf` yourself at session build
    (``get_spark(extra_conf=media_batch_conf(...))``) or around the media
    job.
    """
    spark = df.sparkSession
    cores = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < cores:
        return df.repartition(cores)
    return df


def decode_image(payload: bytes) -> "object":
    """Real codec path — intentionally unimplemented in this container.

    On a cluster with Pillow/libvips installed, replace the body with
    ``PIL.Image.open(io.BytesIO(payload))``; every caller below goes
    through :func:`_fake_decode` when ``fake=True``.
    """
    raise NotImplementedError(
        "image codec libraries are not installed in this environment; "
        "use fake=True for the deterministic stub"
    )


def _fake_decode(payload: bytes, dim: int = 4) -> list[float]:
    """Deterministic stand-in for decode+embed: sha256 bytes → ``dim``
    floats in [0, 1). Stable across processes/executors."""
    h = hashlib.sha256(payload).digest()
    return [b / 255.0 for b in h[:dim]]


def extract_features(
    df: DataFrame, dim: int = 4, fake: bool = True
) -> DataFrame:
    """Per-asset feature extraction via Arrow-batched ``mapInPandas``.

    Output: (asset_id, media_type, n_bytes, payload_sha256, feat_mean,
    feat_dim). The UDF sees column-pruned pandas batches — only the
    columns it touches cross the Arrow boundary.
    """

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for payload in pdf["payload"]:
                raw = bytes(payload) if payload is not None else b""
                if not fake:
                    decode_image(raw)  # pragma: no cover - real codec path
                vec = _fake_decode(raw, dim)
                feats.append(
                    (
                        len(raw),
                        hashlib.sha256(raw).hexdigest(),
                        sum(vec) / len(vec),
                        len(vec),
                    )
                )
            out = pd.DataFrame(
                feats,
                columns=["n_bytes", "payload_sha256", "feat_mean", "feat_dim"],
            )
            out.insert(0, "media_type", pdf["media_type"].values)
            out.insert(0, "asset_id", pdf["asset_id"].values)
            yield out

    return df.select("asset_id", "media_type", "payload").mapInPandas(
        fn, _FEATURE_SCHEMA
    )


def sample_frames(
    df: DataFrame, every_ms: int = 1000, fake: bool = True
) -> DataFrame:
    """Video frame sampling: one output row per sampled frame.

    Real path would seek the container stream per timestamp; the stub
    derives one deterministic pseudo-frame hash per sample point from
    (payload, frame_idx). Fan-out = duration/every_ms rows per asset —
    at scale, repartition *before* this map so the expansion stays local.
    """

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, hashes = [], [], []
            for asset_id, payload, dur in zip(
                pdf["asset_id"], pdf["payload"], pdf["duration_ms"]
            ):
                raw = bytes(payload) if payload is not None else b""
                if not fake:
                    decode_image(raw)  # pragma: no cover - real codec path
                n_frames = max(1, int(dur or 0) // every_ms)
                for i in range(n_frames):
                    ids.append(asset_id)
                    idxs.append(i)
                    hashes.append(
                        hashlib.sha256(raw + b":" + str(i).encode()).hexdigest()
                    )
            yield pd.DataFrame(
                {"asset_id": ids, "frame_idx": idxs, "frame_sha256": hashes}
            )

    return (
        df.filter(F.col("media_type") == "video")
        .select("asset_id", "payload", "duration_ms")
        .mapInPandas(fn, _FRAME_SCHEMA)
    )


def parse_ppm(payload: bytes) -> tuple[int, int, int, "object"]:
    """REAL image decode for binary PPM (P6): header + raw RGB pixels.

    Pure stdlib/numpy — no codec library needed, so unlike
    :func:`decode_image` this path runs for real in this container.
    Handles arbitrary whitespace and ``#`` comments in the header per the
    netpbm spec. Returns (width, height, maxval, pixels) with ``pixels``
    a ``numpy`` uint8/uint16 array of shape (height, width, 3). Raises
    ``ValueError`` on malformed input.
    """
    import numpy as np

    if not payload.startswith(b"P6"):
        raise ValueError("not a P6 PPM payload")
    pos = 2
    fields: list[int] = []
    while len(fields) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":
            while pos < len(payload) and payload[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        if pos == start:
            raise ValueError("truncated PPM header")
        fields.append(int(payload[start:pos]))
    pos += 1  # single whitespace byte after maxval, then raw pixels
    width, height, maxval = fields
    if not (width > 0 and height > 0 and 0 < maxval < 65536):
        raise ValueError("invalid PPM dimensions")
    bytes_per = 1 if maxval < 256 else 2
    need = width * height * 3 * bytes_per
    raw = payload[pos : pos + need]
    if len(raw) != need:
        raise ValueError("truncated PPM pixel data")
    dtype = np.uint8 if bytes_per == 1 else np.dtype(">u2")
    return (
        width,
        height,
        maxval,
        np.frombuffer(raw, dtype=dtype).reshape(height, width, 3),
    )


def parse_bmp(payload: bytes) -> tuple[int, int, int, "object"]:
    """REAL decode for uncompressed 24-bit BMP (BITMAPINFOHEADER).

    Returns (width, height, bpp, pixels) with ``pixels`` shaped
    (height, width, 3) in RGB order, top row first (BMP stores rows
    bottom-up, BGR, 4-byte-aligned — all normalized here). Raises
    ``ValueError`` on malformed/unsupported input.
    """
    import struct

    import numpy as np

    if len(payload) < 54 or payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    data_off = struct.unpack_from("<I", payload, 10)[0]
    hdr_size, width, height = struct.unpack_from("<Iii", payload, 14)
    planes, bpp, compression = struct.unpack_from("<HHI", payload, 26)
    if hdr_size < 40 or planes != 1 or bpp != 24 or compression != 0:
        raise ValueError("unsupported BMP variant (need uncompressed 24-bit)")
    if width <= 0 or height == 0:
        raise ValueError("invalid BMP dimensions")
    bottom_up = height > 0
    height = abs(height)
    row_bytes = (width * 3 + 3) & ~3
    need = row_bytes * height
    raw = payload[data_off : data_off + need]
    if len(raw) != need:
        raise ValueError("truncated BMP pixel data")
    rows = np.frombuffer(raw, dtype=np.uint8).reshape(height, row_bytes)
    bgr = rows[:, : width * 3].reshape(height, width, 3)
    rgb = bgr[:, :, ::-1]
    return width, height, bpp, (rgb[::-1] if bottom_up else rgb)


_DECODE_SCHEMA = (
    "asset_id bigint, width int, height int, maxval int, "
    "mean_r double, mean_g double, mean_b double, err string"
)


def decode_images(df: DataFrame) -> DataFrame:
    """Decode PPM/BMP payloads and emit per-image stats — the one
    multimodal stage whose codec is REAL in this container (struct/numpy
    parsing, no external libs; formats the parsers don't cover surface in
    ``err`` rather than failing the job, the posture a 100 TB scrape
    pipeline needs — one corrupt file must not kill a stage).

    Output: (asset_id, width, height, maxval, mean_r, mean_g, mean_b,
    err). Channel means are exact int sums over pixel count, so an
    engine-portable oracle can reproduce them bit-for-bit. Arrow-batched
    ``mapInPandas``, column-pruned input, narrow map — no shuffle.
    """

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for asset_id, payload in zip(pdf["asset_id"], pdf["payload"]):
                raw = bytes(payload) if payload is not None else b""
                try:
                    if raw.startswith(b"BM"):
                        w, h, mx, px = parse_bmp(raw)
                        mx = 255
                    else:
                        w, h, mx, px = parse_ppm(raw)
                    n = w * h
                    sums = px.reshape(n, 3).astype("int64").sum(axis=0)
                    rows.append(
                        (
                            asset_id,
                            w,
                            h,
                            mx,
                            float(sums[0]) / n,
                            float(sums[1]) / n,
                            float(sums[2]) / n,
                            None,
                        )
                    )
                except ValueError as ex:
                    rows.append(
                        (asset_id, None, None, None, None, None, None, str(ex))
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "asset_id",
                    "width",
                    "height",
                    "maxval",
                    "mean_r",
                    "mean_g",
                    "mean_b",
                    "err",
                ],
            )

    return df.select("asset_id", "payload").mapInPandas(fn, _DECODE_SCHEMA)


def synthesize_jpeg(df: DataFrame) -> DataFrame:
    """Deterministic baseline-JPEG payload per document: a solid-color
    image whose color/size derive from ``doc_id`` by modular arithmetic,
    encoded by the REAL pure-numpy encoder (`operators/jpeg.py`) with
    the flat-16 quantizer. Solid color + power-of-two quantizer make the
    decoded pixel an exact closed-form function of ``doc_id`` (see the
    codec's determinism contract), so a SQL oracle can hash-match the
    decode output of a genuinely entropy-coded JPEG bitstream."""
    from extract_transform_load_template_multidb_spark.operators import (
        jpeg as J,
    )

    schema = "asset_id bigint, payload binary"

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        qt = J.flat_tables(16)
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                color = (did * 7 % 256, did * 13 % 256, did * 31 % 256)
                w = 8 + did % 3 * 8
                h = 8 + did % 2 * 8
                img = np.full((h, w, 3), color, dtype=np.uint8)
                rows.append(
                    (did, J.encode_baseline_jpeg(img, qtables=qt))
                )
            yield pd.DataFrame(rows, columns=["asset_id", "payload"])

    return (
        repartition_for_media(df.select("doc_id"))
        .mapInPandas(fn, schema)
    )


_DECODE_JPEG_SCHEMA = (
    "asset_id bigint, width int, height int, n_components int, "
    "mean_r double, mean_g double, mean_b double, err string"
)


def decode_jpegs(df: DataFrame) -> DataFrame:
    """Decode baseline JPEG payloads with the REAL pure-numpy decoder
    (Huffman + dequant + IDCT + chroma upsample + YCbCr→RGB; see
    `operators/jpeg.py`) and emit per-image stats. Malformed payloads
    surface in ``err``; progressive/arithmetic variants surface their
    ``NotImplementedError`` message the same way — one exotic file must
    not kill a 100 TB stage. Arrow-batched ``mapInPandas``, narrow map,
    no shuffle."""
    from extract_transform_load_template_multidb_spark.operators import (
        jpeg as J,
    )

    def stats(raw: bytes) -> tuple:
        w, h, nc, px = J.parse_jpeg(raw)
        n = w * h
        sums = px.reshape(n, 3).astype("int64").sum(axis=0)
        return (w, h, nc, *(float(v) / n for v in sums))

    return _map_assets(
        df.select("asset_id", "payload"), stats, _DECODE_JPEG_SCHEMA
    )


def synthesize_png(df: DataFrame) -> DataFrame:
    """Deterministic PNG payload per document, built by the REAL
    pure-stdlib encoder (`operators/png.py`): a 4×8 image whose pixel
    at (y, x, c) is ``(doc_id·7 + y·16 + x·5 + c·11) mod 256`` — a
    closed-form integer function a SQL oracle can rebuild exactly —
    with every 4th document RGBA and the rest RGB, and the row filter
    cycling through all five spec filter types (0..4) so decode
    exercises None/Sub/Up/Average/Paeth on every asset. PNG is
    lossless, so the decoded pixels equal the formula bit-for-bit."""
    from extract_transform_load_template_multidb_spark.operators import (
        png as P,
    )

    schema = "asset_id bigint, payload binary"

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        y, x = np.mgrid[0:8, 0:4]
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                ch = 4 if did % 4 == 0 else 3
                c = np.arange(ch).reshape(1, 1, ch)
                img = (
                    (
                        did * 7
                        + y[:, :, None] * 16
                        + x[:, :, None] * 5
                        + c * 11
                    )
                    % 256
                ).astype(np.uint8)
                rows.append(
                    (did, P.encode_png(img, filters=(0, 1, 2, 3, 4)))
                )
            yield pd.DataFrame(rows, columns=["asset_id", "payload"])

    return repartition_for_media(df.select("doc_id")).mapInPandas(
        fn, schema
    )


_DECODE_PNG_SCHEMA = (
    "asset_id bigint, width int, height int, n_channels int, "
    "mean_r double, mean_g double, mean_b double, err string"
)


def decode_pngs(df: DataFrame) -> DataFrame:
    """Decode PNG payloads with the REAL pure-stdlib decoder (chunk
    CRC verification, zlib inflate, all five row filters; see
    `operators/png.py`) and emit per-image stats. Malformed payloads
    surface in ``err``; palette/gray/16-bit/interlaced variants surface
    their ``NotImplementedError`` message the same way — one exotic
    file must not kill a 100 TB stage. Channel means are exact integer
    sums over the pixel count, so an engine-portable oracle reproduces
    them bit-for-bit. Arrow-batched ``mapInPandas``, narrow map, no
    shuffle."""
    from extract_transform_load_template_multidb_spark.operators import (
        png as P,
    )

    def stats(raw: bytes) -> tuple:
        w, h, ch, px = P.parse_png(raw)
        n = w * h
        sums = px[:, :, :3].reshape(n, 3).astype("int64").sum(axis=0)
        return (w, h, ch, *(float(v) / n for v in sums))

    return _map_assets(
        df.select("asset_id", "payload"), stats, _DECODE_PNG_SCHEMA
    )


def synthesize_gif(df: DataFrame) -> DataFrame:
    """Deterministic GIF87a payload per document, built by the REAL
    codec (`operators/gif.py`): a 4×8 indexed image whose palette index
    at (y, x) is ``(doc_id·7 + y·16 + x·5) mod 256`` and whose global
    color table maps index i → (i, 2i mod 256, 3i mod 256) — closed
    forms a SQL oracle rebuilds exactly. The LZW stream is spec-valid
    (uncompressed form), so any conformant decoder reproduces the
    pixels bit-for-bit."""
    from extract_transform_load_template_multidb_spark.operators import (
        gif as G,
    )

    schema = "asset_id bigint, payload binary"

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        i = np.arange(256, dtype=np.int64)
        pal = np.stack([i, (i * 2) % 256, (i * 3) % 256], axis=1).astype(
            np.uint8
        )
        y, x = np.mgrid[0:8, 0:4]
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                idx = ((did * 7 + y * 16 + x * 5) % 256).astype(np.uint8)
                rows.append((did, G.encode_gif87a(idx, pal)))
            yield pd.DataFrame(rows, columns=["asset_id", "payload"])

    return repartition_for_media(df.select("doc_id")).mapInPandas(
        fn, schema
    )


_DECODE_GIF_SCHEMA = (
    "asset_id bigint, width int, height int, n_colors int, "
    "mean_r double, mean_g double, mean_b double, err string"
)


def decode_gifs(df: DataFrame) -> DataFrame:
    """Decode GIF payloads with the REAL pure-Python decoder (block
    walk, global color table, full variable-width LZW with dictionary
    rebuild and the KwKwK case; see `operators/gif.py`) and emit
    per-image RGB stats through the palette. Malformed payloads surface
    in ``err``; interlaced/local-table variants surface their
    ``NotImplementedError`` the same way. Arrow-batched
    ``mapInPandas``, narrow map, no shuffle."""
    from extract_transform_load_template_multidb_spark.operators import (
        gif as G,
    )

    def stats(raw: bytes) -> tuple:
        w, h, pal, idx = G.parse_gif(raw)
        sums = pal[idx.ravel()].astype("int64").sum(axis=0)
        n = w * h
        return (w, h, int(len(pal)), *(float(v) / n for v in sums))

    return _map_assets(
        df.select("asset_id", "payload"), stats, _DECODE_GIF_SCHEMA
    )


def synthesize_ppm(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic 4×4 P6 payload per document: pixel bytes are the
    first 48 bytes of the (x-padded) text — ASCII, so byte values equal
    character codes and a SQL oracle can rebuild the expected stats with
    ``ord()`` arithmetic. The payload is a VALID PPM: the real parser in
    :func:`decode_images` consumes it with no fixture-specific path."""
    pixels = F.substring(F.rpad(F.col(text_col), 48, "x"), 1, 48)
    return df.select(
        F.col("doc_id").alias("asset_id"),
        F.encode(F.concat(F.lit("P6\n4 4\n255\n"), pixels), "UTF-8").alias(
            "payload"
        ),
    )


def write_wav(samples: "object", sample_rate: int = 8000) -> bytes:
    """REAL RIFF/WAVE writer for PCM16 mono — pure struct/numpy.

    ``samples`` is any int16-coercible 1-D array; output is a canonical
    44-byte-header WAV (fmt chunk then data chunk) that any standard
    reader consumes.
    """
    import struct

    import numpy as np

    pcm = np.asarray(samples, dtype="<i2").tobytes()
    hdr = (
        b"RIFF"
        + struct.pack("<I", 36 + len(pcm))
        + b"WAVE"
        + b"fmt "
        + struct.pack(
            "<IHHIIHH",
            16,  # fmt chunk size
            1,  # PCM
            1,  # mono
            sample_rate,
            sample_rate * 2,  # byte rate
            2,  # block align
            16,  # bits per sample
        )
        + b"data"
        + struct.pack("<I", len(pcm))
    )
    return hdr + pcm


def parse_wav(payload: bytes) -> tuple[int, int, int, "object"]:
    """REAL audio decode for PCM16 WAV: walks the RIFF chunk list (no
    fixed-offset shortcut — handles extra chunks like LIST/INFO and odd-
    size padding per spec), validates the fmt chunk, and returns
    (n_channels, sample_rate, bits, samples) with ``samples`` a numpy
    int16 array (frames × channels flattened in interleaved order).
    Raises ``ValueError`` on malformed/unsupported input.
    """
    import struct

    import numpy as np

    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    fmt = data = None
    pos = 12
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (size,) = struct.unpack_from("<I", payload, pos + 4)
        body = payload[pos + 8 : pos + 8 + size]
        if len(body) != size:
            raise ValueError(f"truncated {cid!r} chunk")
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt or data chunk")
    if len(fmt) < 16:
        raise ValueError("short fmt chunk")
    audio_fmt, n_channels, sample_rate, _, _, bits = struct.unpack_from(
        "<HHIIHH", fmt
    )
    if audio_fmt != 1 or bits != 16:
        raise ValueError("unsupported WAV variant (need PCM 16-bit)")
    if n_channels < 1 or sample_rate < 1:
        raise ValueError("invalid WAV fmt fields")
    if len(data) % (2 * n_channels):
        raise ValueError("data chunk not frame-aligned")
    return n_channels, sample_rate, bits, np.frombuffer(data, dtype="<i2")


_AUDIO_SCHEMA = (
    "asset_id bigint, sample_rate int, n_channels int, bits int, "
    "n_samples bigint, duration_ms bigint, rms double, "
    "zero_crossings bigint, err string"
)


def decode_audio(df: DataFrame) -> DataFrame:
    """Decode PCM16 WAV payloads and emit per-asset audio features — the
    audio twin of :func:`decode_images`, with the codec REAL in this
    container (struct/numpy RIFF parsing, no external libs). Malformed
    payloads surface in ``err`` instead of failing the stage.

    Output: (asset_id, sample_rate, n_channels, bits, n_samples,
    duration_ms, rms, zero_crossings, err). ``rms`` is computed as
    sqrt(exact-int sum of squares / n) so a SQL oracle reproduces it
    bit-for-bit; ``zero_crossings`` counts sign flips of the (v < 0)
    predicate between consecutive samples. Arrow-batched ``mapInPandas``,
    column-pruned input, narrow map — no shuffle.
    """
    import math

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for asset_id, payload in zip(pdf["asset_id"], pdf["payload"]):
                raw = bytes(payload) if payload is not None else b""
                try:
                    nch, sr, bits, v = parse_wav(raw)
                    n = int(v.shape[0])
                    sq = int((v.astype("int64") ** 2).sum())
                    rms = math.sqrt(sq / n) if n else 0.0
                    neg = v < 0
                    zc = int((neg[1:] != neg[:-1]).sum())
                    rows.append(
                        (
                            asset_id,
                            sr,
                            nch,
                            bits,
                            n,
                            n * 1000 // (sr * nch),
                            rms,
                            zc,
                            None,
                        )
                    )
                except ValueError as ex:
                    rows.append(
                        (asset_id, None, None, None, None, None, None, None,
                         str(ex))
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "asset_id",
                    "sample_rate",
                    "n_channels",
                    "bits",
                    "n_samples",
                    "duration_ms",
                    "rms",
                    "zero_crossings",
                    "err",
                ],
            )

    return df.select("asset_id", "payload").mapInPandas(fn, _AUDIO_SCHEMA)


def synthesize_wav(
    df: DataFrame,
    text_col: str = "text",
    n_samples: int = 16,
    sample_rate: int = 8000,
) -> DataFrame:
    """Deterministic PCM16 WAV payload per document: sample ``i`` is
    ``(ord(char_i) - 79) * 256`` over the first ``n_samples`` characters
    of the x-padded text (ASCII ⇒ a SQL oracle rebuilds the decoded
    features with ``ord()`` arithmetic; the -79 bias puts chars below
    'O' negative so zero-crossing counts are non-trivial). The payload is
    a VALID WAV built by :func:`write_wav`: the real RIFF parser in
    :func:`decode_audio` consumes it with no fixture-specific path."""

    schema = "asset_id bigint, payload binary"

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [
                write_wav(
                    [
                        (ord(c) - 79) * 256
                        for c in (t or "").ljust(n_samples, "x")[:n_samples]
                    ],
                    sample_rate,
                )
                for t in pdf["text"]
            ]
            yield pd.DataFrame(
                {"asset_id": pdf["doc_id"].values, "payload": payloads}
            )

    return df.select("doc_id", F.col(text_col).alias("text")).mapInPandas(
        fn, schema
    )


def media_stats(df: DataFrame) -> DataFrame:
    """Binary-column statistics with built-ins only (no UDF): byte length,
    md5, and a magic-byte sniff — the cheap pre-filter before any decode."""
    payload = F.col("payload")
    return df.select(
        "asset_id",
        "media_type",
        F.length(payload).alias("n_bytes"),
        F.md5(payload).alias("payload_md5"),
        F.when(
            F.hex(F.substring(payload, 1, 2)) == "FFD8", F.lit("jpeg")
        )
        .when(F.hex(F.substring(payload, 1, 4)) == "89504E47", F.lit("png"))
        .otherwise(F.lit("unknown"))
        .alias("sniffed_format"),
    )


def synthesize_media(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Build a deterministic media table from the ``documents`` fixture
    (no media fixture ships with the harness): payload = UTF-8 bytes of the
    text, metadata derived arithmetically. Gives every multimodal operator
    a reproducible input that the SQL oracle can also construct."""
    return df.select(
        F.col("doc_id").alias("asset_id"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("image"))
        .when(F.col("doc_id") % 3 == 1, F.lit("audio"))
        .otherwise(F.lit("video"))
        .alias("media_type"),
        F.lit(None).cast("string").alias("mime"),
        F.encode(F.col(text_col), "UTF-8").alias("payload"),
        F.lit(None).cast("string").alias("uri"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        (F.length(F.col(text_col)) * 100).cast("long").alias("duration_ms"),
    )


def synthesize_tone_wav(
    df: DataFrame,
    n_samples: int = 16,
    sample_rate: int = 8000,
) -> DataFrame:
    """Deterministic square-wave WAV per document: frequency 500·2^(id%3)
    Hz (500/1000/2000 — each an integer number of cycles in the 16-sample
    window), amplitude ±8000, built by pure integer arithmetic (no trig:
    sample i is +A when ⌊2·f·i/sr⌋ is even). The payload is a VALID WAV
    via :func:`write_wav`; the expected dominant FFT bin is exactly
    n·f/sr, so a SQL oracle predicts the spectral analysis with CASE
    arithmetic."""

    schema = "asset_id bigint, payload binary"

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"]:
                f = 500 * (2 ** (int(did) % 3))
                samples = [
                    8000 if (2 * f * i // sample_rate) % 2 == 0 else -8000
                    for i in range(n_samples)
                ]
                payloads.append(write_wav(samples, sample_rate))
            yield pd.DataFrame(
                {"asset_id": pdf["doc_id"].values, "payload": payloads}
            )

    return df.select("doc_id").mapInPandas(fn, schema)


_SPECTRUM_SCHEMA = (
    "asset_id bigint, n_samples bigint, dominant_bin int, "
    "dominant_freq_hz int, err string"
)


def dominant_frequency(df: DataFrame) -> DataFrame:
    """REAL spectral analysis in this container: parse the WAV (RIFF
    chunk walk) and run an actual numpy FFT over the PCM samples,
    emitting the dominant non-DC frequency bin per asset — the
    feature-extraction stage of an audio curation pipeline (tone/DTMF
    detection, bandwidth sniffing). Output stays INTEGER (argmax bin +
    its frequency), so the result is engine-portable even though the
    spectrum itself is floating point. Narrow Arrow-batched map; bad
    payloads surface in ``err``."""
    import numpy as np

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for asset_id, payload in zip(pdf["asset_id"], pdf["payload"]):
                raw = bytes(payload) if payload is not None else b""
                try:
                    _, sr, _, v = parse_wav(raw)
                    n = int(v.shape[0])
                    if n < 2:
                        raise ValueError("need >= 2 samples for a spectrum")
                    mag = np.abs(np.fft.rfft(v.astype("float64")))
                    # skip DC; argmax returns the LOWEST bin on ties
                    b = int(np.argmax(mag[1:])) + 1
                    rows.append((asset_id, n, b, b * sr // n, None))
                except ValueError as ex:
                    rows.append((asset_id, None, None, None, str(ex)))
            yield pd.DataFrame(
                rows,
                columns=[
                    "asset_id",
                    "n_samples",
                    "dominant_bin",
                    "dominant_freq_hz",
                    "err",
                ],
            )

    return df.select("asset_id", "payload").mapInPandas(fn, _SPECTRUM_SCHEMA)


_RESIZE_SCHEMA = "asset_id bigint, width int, height int, payload binary, err string"


def resize_images(df: DataFrame, factor: int = 2) -> DataFrame:
    """REAL image resize: decode PPM/BMP payloads, nearest-neighbor
    downsample by an integer ``factor`` (keep every factor-th pixel,
    anchored top-left), and re-encode as binary PPM (P6) — a decode →
    transform → encode media stage that runs for real in this container
    (struct/numpy only). Composes with :func:`decode_images`: the output
    payloads are themselves valid PPMs.

    Narrow Arrow-batched map, no shuffle; malformed/too-small inputs
    surface in ``err`` (output payload NULL) instead of failing the
    stage. 16-bit PPMs are rejected (the re-encode targets maxval 255).
    """
    if factor < 1:
        raise ValueError("factor must be >= 1")

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for asset_id, payload in zip(pdf["asset_id"], pdf["payload"]):
                raw = bytes(payload) if payload is not None else b""
                try:
                    if raw.startswith(b"BM"):
                        w, h, _, px = parse_bmp(raw)
                    else:
                        w, h, mx, px = parse_ppm(raw)
                        if mx > 255:
                            raise ValueError(
                                "16-bit PPM unsupported for resize re-encode"
                            )
                    small = px[::factor, ::factor]
                    nh, nw = small.shape[0], small.shape[1]
                    if nh < 1 or nw < 1:
                        raise ValueError("resize factor exceeds image size")
                    out = (
                        f"P6\n{nw} {nh}\n255\n".encode()
                        + small.astype("uint8").tobytes()
                    )
                    rows.append((asset_id, nw, nh, out, None))
                except ValueError as ex:
                    rows.append((asset_id, None, None, None, str(ex)))
            yield pd.DataFrame(
                rows,
                columns=["asset_id", "width", "height", "payload", "err"],
            )

    return df.select("asset_id", "payload").mapInPandas(fn, _RESIZE_SCHEMA)


def dhash_images(df: DataFrame) -> DataFrame:
    """Perceptual difference-hash (dHash) per image: integer luma
    (r+g+b) per pixel, then one bit per horizontal and vertical
    neighbor-gradient (bit k set iff the left/upper pixel is strictly
    brighter) packed into a single int64 fingerprint — the standard
    near-duplicate image signature (equal fingerprints = perceptual
    dup bucket; hamming distance = similarity). All-integer math, so
    an engine-portable oracle can rebuild the exact hash. Arrow-batched
    ``mapInPandas`` narrow map over the same REAL PPM/BMP parsers as
    :func:`decode_images`; undecodable payloads surface in ``err``.

    Bit layout for a w×h image: horizontal bits first (row-major,
    h·(w−1) bits), then vertical bits (column-major, (h−1)·w bits).
    """

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for asset_id, payload in zip(pdf["asset_id"], pdf["payload"]):
                raw = bytes(payload) if payload is not None else b""
                try:
                    if raw.startswith(b"BM"):
                        w, h, _, px = parse_bmp(raw)
                    else:
                        w, h, _, px = parse_ppm(raw)
                    s = px.reshape(h, w, 3).astype("int64").sum(axis=2)
                    bits_h = (s[:, :-1] > s[:, 1:]).flatten()
                    bits_v = (s[:-1, :] > s[1:, :]).T.flatten()
                    dh = 0
                    for k, b in enumerate(
                        list(bits_h) + list(bits_v)
                    ):
                        if b:
                            dh |= 1 << k
                    rows.append((asset_id, dh, None))
                except ValueError as ex:
                    rows.append((asset_id, None, str(ex)))
            yield pd.DataFrame(
                rows, columns=["asset_id", "dhash", "err"]
            )

    return df.select("asset_id", "payload").mapInPandas(
        fn, "asset_id long, dhash long, err string"
    )


def silence_windows(
    df: DataFrame, window_samples: int = 4, rms_threshold: float = 2048.0
) -> DataFrame:
    """Windowed voice-activity profile per WAV asset.

    Splits each decoded PCM stream into fixed ``window_samples`` frames,
    computes per-frame RMS (exact int64 energy sum, one sqrt), and
    reports the silent-frame ratio under ``rms_threshold`` plus the
    min/max frame RMS — the trim-leading-silence / drop-dead-air signal
    an audio-curation pipeline runs before transcription. Arrow-batched
    ``mapInPandas`` over the RIFF parser; output is one row per asset,
    so the Python stage is a narrow map with no shuffle.
    """
    import numpy as np

    schema = (
        "asset_id bigint, n_windows bigint, n_silent bigint, "
        "silence_ratio double, min_rms double, max_rms double, err string"
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for aid, payload in zip(pdf["asset_id"], pdf["payload"]):
                try:
                    _, _, _, samples = parse_wav(bytes(payload))
                    n_win = len(samples) // window_samples
                    frames = (
                        samples[: n_win * window_samples]
                        .astype(np.int64)
                        .reshape(n_win, window_samples)
                    )
                    energy = (frames * frames).sum(axis=1)
                    rms = np.sqrt(energy / float(window_samples))
                    silent = int((rms < rms_threshold).sum())
                    rows.append(
                        (
                            int(aid),
                            n_win,
                            silent,
                            silent / n_win if n_win else None,
                            float(rms.min()) if n_win else None,
                            float(rms.max()) if n_win else None,
                            None,
                        )
                    )
                except Exception as exc:  # malformed payload → typed err
                    rows.append(
                        (int(aid), 0, 0, None, None, None, str(exc)[:80])
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "asset_id",
                    "n_windows",
                    "n_silent",
                    "silence_ratio",
                    "min_rms",
                    "max_rms",
                    "err",
                ],
            )

    return repartition_for_media(df).mapInPandas(fn, schema)


def channel_histograms(df: DataFrame, n_bins: int = 4) -> DataFrame:
    """Per-channel luminance histograms for decoded PPM/BMP assets.

    Each RGB channel's 0–255 range splits into ``n_bins`` equal bins;
    output is one row per (asset, channel) with the bin counts as an
    array — the exposure/contrast profile an image-curation pipeline
    thresholds before training (all-dark, all-blown, or single-bin
    images are crop/decode failures). Exact integer binning inside the
    same Arrow ``mapInPandas`` decode pass; one row per asset×3, no
    shuffle.
    """
    import numpy as np

    if not 1 <= n_bins <= 256:
        raise ValueError(f"n_bins must be in [1, 256], got {n_bins}")
    width = 256 // n_bins
    schema = (
        "asset_id bigint, channel string, n_pixels bigint, "
        f"bins array<bigint>, err string"
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for aid, payload in zip(pdf["asset_id"], pdf["payload"]):
                try:
                    _, _, _, px = parse_ppm(bytes(payload))
                    arr = np.asarray(px, dtype=np.int64)
                    for ci, cname in enumerate(("r", "g", "b")):
                        chan = arr[:, :, ci].ravel()
                        # Clamp the bin index: when n_bins does not
                        # divide 256 the top of the range (e.g. values
                        # ≥ width*n_bins) must land in the LAST bin,
                        # not silently drop out of the histogram.
                        idx = np.minimum(chan // width, n_bins - 1)
                        bins = [
                            int((idx == b).sum())
                            for b in range(n_bins)
                        ]
                        rows.append(
                            (int(aid), cname, int(chan.size), bins, None)
                        )
                except Exception as exc:
                    rows.append((int(aid), None, 0, None, str(exc)[:80]))
            yield pd.DataFrame(
                rows,
                columns=["asset_id", "channel", "n_pixels", "bins", "err"],
            )

    return repartition_for_media(df).mapInPandas(fn, schema)


_RESIZE_JPEG_SCHEMA = (
    "asset_id bigint, width int, height int, "
    "mean_r double, mean_g double, mean_b double, err string"
)


def resize_reencode_jpegs(df: DataFrame, factor: int = 2) -> DataFrame:
    """Decode → nearest-neighbor downsample by ``factor`` → RE-ENCODE as
    baseline JPEG → decode again, emitting the final dims/means — the
    full thumbnail pipeline (both codec directions run on executors,
    Arrow-batched, no shuffle). Nearest-neighbor keeps solid-color
    fixtures closed-form: the second pass re-derives YCbCr from the
    first pass's decoded RGB, so the expected output is the codec's
    per-pass algebra applied TWICE — still a fixed IEEE dag a SQL
    oracle reproduces exactly (see queries/multimodal.py)."""
    from extract_transform_load_template_multidb_spark.operators import (
        jpeg as J,
    )

    qt = J.flat_tables(16)

    def stats(raw: bytes) -> tuple:
        w, h, _, px = J.parse_jpeg(raw)
        small = px[::factor, ::factor, :]
        if small.size == 0:
            raise ValueError("resize factor exceeds image")
        re_raw = J.encode_baseline_jpeg(small, qtables=qt)
        w2, h2, _, px2 = J.parse_jpeg(re_raw)
        n = w2 * h2
        sums = px2.reshape(n, 3).astype("int64").sum(axis=0)
        return (w2, h2, *(float(v) / n for v in sums))

    return _map_assets(
        df.select("asset_id", "payload"), stats, _RESIZE_JPEG_SCHEMA
    )


_RESIZE_PNG_SCHEMA = (
    "asset_id bigint, width int, height int, n_channels int, "
    "mean_r double, mean_g double, mean_b double, err string"
)


def resize_reencode_pngs(df: DataFrame, factor: int = 2) -> DataFrame:
    """Decode → stride-``factor`` downsample → PNG re-encode → decode
    again, emitting the stats of the re-decoded thumbnail — the
    thumbnail-pipeline smoke for the lossless codec (unlike the JPEG
    variant, the round trip must be bit-exact: any drift is a codec
    bug, which is why the oracle can hash the output). Arrow-batched
    ``mapInPandas``, narrow map, no shuffle; per-asset failures surface
    in ``err``."""
    from extract_transform_load_template_multidb_spark.operators import (
        png as P,
    )

    def stats(raw: bytes) -> tuple:
        w, h, ch, px = P.parse_png(raw)
        small = px[::factor, ::factor, :]
        if small.size == 0:
            raise ValueError("resize factor exceeds image")
        re_raw = P.encode_png(small, filters=(2, 4))
        w2, h2, ch2, px2 = P.parse_png(re_raw)
        n = w2 * h2
        sums = px2[:, :, :3].reshape(n, 3).astype("int64").sum(axis=0)
        return (w2, h2, ch2, *(float(v) / n for v in sums))

    return _map_assets(
        df.select("asset_id", "payload"), stats, _RESIZE_PNG_SCHEMA
    )


def alpha_profile(df: DataFrame) -> DataFrame:
    """Alpha-channel profile of decoded RGBA PNGs: mean alpha plus the
    fully-opaque / fully-transparent pixel counts — the compositing
    screen an image-curation pipeline runs before training (an
    all-transparent asset is a decode/crop failure; a binary alpha mask
    signals sticker/clip-art content). RGB assets (no alpha) surface a
    typed ``err`` rather than fake opacity. Exact integer sums inside
    the Arrow decode pass; one row per asset, narrow map, no shuffle."""
    from extract_transform_load_template_multidb_spark.operators import (
        png as P,
    )

    schema = (
        "asset_id bigint, n_pixels bigint, alpha_mean double, "
        "n_opaque bigint, n_transparent bigint, err string"
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for asset_id, payload in zip(pdf["asset_id"], pdf["payload"]):
                raw = bytes(payload) if payload is not None else b""
                try:
                    w, h, ch, px = P.parse_png(raw)
                    if ch != 4:
                        raise ValueError("no alpha channel")
                    a = px[:, :, 3].astype("int64")
                    n = w * h
                    rows.append(
                        (
                            asset_id,
                            n,
                            float(a.sum()) / n,
                            int((a == 255).sum()),
                            int((a == 0).sum()),
                            None,
                        )
                    )
                except (ValueError, NotImplementedError) as ex:
                    rows.append(
                        (asset_id, 0, None, None, None, str(ex)[:80])
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "asset_id",
                    "n_pixels",
                    "alpha_mean",
                    "n_opaque",
                    "n_transparent",
                    "err",
                ],
            )

    return df.select("asset_id", "payload").mapInPandas(fn, schema)


def clipping_profile(
    df: DataFrame, threshold: int = 10240
) -> DataFrame:
    """Per-asset clipping detection over decoded PCM16 WAV streams.

    Flags samples at or beyond ``threshold`` absolute amplitude and
    reports the clipped-sample count, ratio, and the LONGEST consecutive
    clipped run — the distortion triage signal (one hot sample is a
    transient; a 50-sample run is a flattened waveform the loudness
    pipeline must reject). Arrow-batched ``mapInPandas`` over the real
    RIFF parser (cf. reference Template-to-MySQL pipelines' row-format
    conversions — here the 'row format' is PCM frames); one output row
    per asset keeps the Python stage a narrow no-shuffle map.
    """
    import numpy as np

    schema = (
        "asset_id bigint, n_samples bigint, n_clipped bigint, "
        "clip_ratio double, max_run bigint, err string"
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for aid, payload in zip(pdf["asset_id"], pdf["payload"]):
                try:
                    _, _, _, samples = parse_wav(bytes(payload))
                    clipped = np.abs(samples.astype(np.int64)) >= threshold
                    n = int(len(samples))
                    nc = int(clipped.sum())
                    if nc:
                        # Longest run of True: pad with False, diff the
                        # transition indices.
                        padded = np.concatenate(([False], clipped, [False]))
                        edges = np.flatnonzero(np.diff(padded))
                        run = int((edges[1::2] - edges[0::2]).max())
                    else:
                        run = 0
                    rows.append(
                        (
                            int(aid),
                            n,
                            nc,
                            nc / n if n else None,
                            run,
                            None,
                        )
                    )
                except Exception as exc:
                    rows.append((int(aid), 0, 0, None, 0, str(exc)[:80]))
            yield pd.DataFrame(
                rows,
                columns=[
                    "asset_id",
                    "n_samples",
                    "n_clipped",
                    "clip_ratio",
                    "max_run",
                    "err",
                ],
            )

    return df.mapInPandas(fn, schema)


def edge_density(df: DataFrame) -> DataFrame:
    """Per-channel gradient-energy profile of decoded PPM/BMP images.

    Sums |horizontal| and |vertical| first-difference magnitudes per
    channel (exact int64 — a Sobel-lite edge-energy proxy) and reports
    the per-pixel-pair mean: blur/flat-field detection for an image
    curation pass (near-zero edge energy = synthetic fill or defocus;
    cf. the exposure screen in :func:`channel_histograms`). Arrow-batched
    ``mapInPandas`` over the real parsers; one row per (asset, channel),
    no shuffle in the Python stage.
    """
    import numpy as np

    schema = (
        "asset_id bigint, channel string, h_grad_sum bigint, "
        "v_grad_sum bigint, edge_mean double, err string"
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for aid, payload in zip(pdf["asset_id"], pdf["payload"]):
                raw = bytes(payload) if payload is not None else b""
                try:
                    if raw.startswith(b"BM"):
                        w, h, _, px = parse_bmp(raw)
                    else:
                        w, h, _, px = parse_ppm(raw)
                    img = px.reshape(h, w, 3).astype(np.int64)
                    for ci, cname in enumerate("rgb"):
                        chan = img[:, :, ci]
                        hg = int(np.abs(np.diff(chan, axis=1)).sum())
                        vg = int(np.abs(np.diff(chan, axis=0)).sum())
                        n_pairs = h * (w - 1) + (h - 1) * w
                        rows.append(
                            (
                                int(aid),
                                cname,
                                hg,
                                vg,
                                (hg + vg) / n_pairs if n_pairs else None,
                                None,
                            )
                        )
                except Exception as exc:
                    rows.append(
                        (int(aid), None, None, None, None, str(exc)[:80])
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "asset_id",
                    "channel",
                    "h_grad_sum",
                    "v_grad_sum",
                    "edge_mean",
                    "err",
                ],
            )

    return repartition_for_media(df).mapInPandas(fn, schema)


def tile_stats(df: DataFrame, grid: int = 2) -> DataFrame:
    """Per-tile luminance statistics for decoded PPM/BMP assets: the
    image splits into a ``grid``×``grid`` patch grid and each tile
    reports its mean luminance (r+g+b sum / 3·pixels) — the
    patch-statistics primitive under vignetting/gradient detection and
    vision-tokenizer pre-checks (a tile grid whose means diverge wildly
    flags a banding/crop artifact a global histogram hides). Integer
    channel sums inside the Arrow decode pass make the per-tile mean an
    exact int/int division; one narrow map, ``grid``² rows per asset,
    no shuffle. Images not divisible by ``grid`` drop the remainder
    rows/cols (documented, deterministic)."""
    import numpy as np

    if grid < 1:
        raise ValueError(f"grid must be >= 1, got {grid}")
    schema = (
        "asset_id bigint, tile_row int, tile_col int, "
        "n_pixels bigint, mean_luminance double, err string"
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for aid, payload in zip(pdf["asset_id"], pdf["payload"]):
                try:
                    w, h, _, px = parse_ppm(bytes(payload))
                    arr = np.asarray(px, dtype=np.int64)
                    th, tw = h // grid, w // grid
                    if th == 0 or tw == 0:
                        raise ValueError(
                            f"{w}x{h} smaller than {grid}x{grid} grid"
                        )
                    for tr in range(grid):
                        for tc in range(grid):
                            tile = arr[
                                tr * th : (tr + 1) * th,
                                tc * tw : (tc + 1) * tw,
                                :,
                            ]
                            s = int(tile.sum())
                            n = th * tw
                            rows.append(
                                (
                                    int(aid),
                                    tr,
                                    tc,
                                    n,
                                    s / float(3 * n),
                                    None,
                                )
                            )
                except Exception as exc:
                    rows.append(
                        (int(aid), None, None, 0, None, str(exc)[:80])
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "asset_id",
                    "tile_row",
                    "tile_col",
                    "n_pixels",
                    "mean_luminance",
                    "err",
                ],
            )

    return repartition_for_media(df).mapInPandas(fn, schema)


def zero_crossing_rate(df: DataFrame) -> DataFrame:
    """Zero-crossing rate per WAV asset: the fraction of adjacent sample
    pairs with a strict sign change (sᵢ·sᵢ₊₁ < 0) — the cheapest
    voiced/unvoiced / noisiness feature in audio curation (white noise
    crosses constantly, tones rarely), complementing
    :func:`silence_windows` (energy) and the dominant-frequency DFT
    (pitch). Exact integer products inside the Arrow decode pass; one
    row per asset, narrow map, no shuffle."""
    import numpy as np

    schema = (
        "asset_id bigint, n_samples bigint, n_crossings bigint, "
        "zcr double, err string"
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for aid, payload in zip(pdf["asset_id"], pdf["payload"]):
                try:
                    _, _, _, samples = parse_wav(bytes(payload))
                    s = np.asarray(samples, dtype=np.int64)
                    n = int(s.size)
                    if n < 2:
                        # A rate needs ≥2 samples: 0 samples would give
                        # 0/-1 = -0.0 and 1 sample a ZeroDivisionError
                        # swallowed into a cryptic err — report the
                        # degenerate clip deliberately instead.
                        rows.append(
                            (
                                int(aid),
                                n,
                                0,
                                None,
                                f"too few samples for zcr: {n}",
                            )
                        )
                        continue
                    cross = int(((s[:-1] * s[1:]) < 0).sum())
                    rows.append(
                        (
                            int(aid),
                            n,
                            cross,
                            cross / float(n - 1),
                            None,
                        )
                    )
                except Exception as exc:
                    rows.append((int(aid), 0, 0, None, str(exc)[:80]))
            yield pd.DataFrame(
                rows,
                columns=[
                    "asset_id",
                    "n_samples",
                    "n_crossings",
                    "zcr",
                    "err",
                ],
            )

    return repartition_for_media(df).mapInPandas(fn, schema)


def equalize_histogram(df: DataFrame) -> DataFrame:
    """Per-channel histogram equalization of decoded PPM/BMP assets —
    the classic contrast-normalization preprocessing step — reported as
    before/after range stats. Equalized value uses the standard CDF
    remap ``h(v) = round((cdf(v) − cdf_min)/(N − cdf_min)·255)`` with
    EXACT rational half-up rounding (``(2p+q)//(2q)``), so an integer
    SQL oracle reproduces every remapped level; a flat channel
    (all pixels equal, N = cdf_min) maps to 0 by contract. Arrow
    ``mapInPandas``, one row per (asset, channel), narrow map."""
    import numpy as np

    schema = (
        "asset_id bigint, channel string, min_before bigint, "
        "max_before bigint, min_after bigint, max_after bigint, "
        "n_distinct_after bigint, err string"
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for aid, payload in zip(pdf["asset_id"], pdf["payload"]):
                try:
                    _, _, _, px = parse_ppm(bytes(payload))
                    arr = np.asarray(px, dtype=np.int64)
                    for ci, cname in enumerate(("r", "g", "b")):
                        v = arr[:, :, ci].ravel()
                        n = v.size
                        sv = np.sort(v)
                        c = np.searchsorted(sv, v, side="right")
                        cmin = int(c.min())
                        denom = n - cmin
                        if denom == 0:
                            h = np.zeros_like(v)
                        else:
                            h = (
                                2 * (c - cmin) * 255 + denom
                            ) // (2 * denom)
                        rows.append(
                            (
                                int(aid),
                                cname,
                                int(v.min()),
                                int(v.max()),
                                int(h.min()),
                                int(h.max()),
                                int(np.unique(h).size),
                                None,
                            )
                        )
                except Exception as exc:
                    rows.append(
                        (int(aid), None, None, None, None, None, None,
                         str(exc)[:80])
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "asset_id",
                    "channel",
                    "min_before",
                    "max_before",
                    "min_after",
                    "max_after",
                    "n_distinct_after",
                    "err",
                ],
            )

    return repartition_for_media(df).mapInPandas(fn, schema)


def gradient_orientation_histogram(df: DataFrame) -> DataFrame:
    """Gradient-orientation histogram (HOG primitive) for decoded
    PPM/BMP assets: at each interior pixel the luminance gradient
    (dx, dy) bins into the dominant compass direction (E/W when
    |dx| ≥ |dy| by dx sign, else S/N by dy sign — exact integer
    comparisons, no atan), plus the total L1 gradient magnitude — the
    texture/edge-direction signature under HOG descriptors and
    blur/flat-image screens (a near-zero magnitude or single-direction
    histogram flags synthetic or degenerate images). Integer-exact
    inside the Arrow decode pass; one row per asset, narrow map."""
    import numpy as np

    schema = (
        "asset_id bigint, n_gradients bigint, n_east bigint, "
        "n_west bigint, n_south bigint, n_north bigint, "
        "l1_magnitude bigint, err string"
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for aid, payload in zip(pdf["asset_id"], pdf["payload"]):
                try:
                    w, h, _, px = parse_ppm(bytes(payload))
                    lum = np.asarray(px, dtype=np.int64).sum(axis=2)
                    dx = lum[: h - 1, 1:] - lum[: h - 1, : w - 1]
                    dy = lum[1:, : w - 1] - lum[: h - 1, : w - 1]
                    horiz = np.abs(dx) >= np.abs(dy)
                    e = int((horiz & (dx >= 0)).sum())
                    wst = int((horiz & (dx < 0)).sum())
                    s = int((~horiz & (dy >= 0)).sum())
                    n = int((~horiz & (dy < 0)).sum())
                    mag = int(np.abs(dx).sum() + np.abs(dy).sum())
                    rows.append(
                        (int(aid), int(dx.size), e, wst, s, n, mag, None)
                    )
                except Exception as exc:
                    rows.append(
                        (int(aid), 0, 0, 0, 0, 0, 0, str(exc)[:80])
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "asset_id",
                    "n_gradients",
                    "n_east",
                    "n_west",
                    "n_south",
                    "n_north",
                    "l1_magnitude",
                    "err",
                ],
            )

    return repartition_for_media(df).mapInPandas(fn, schema)


_GIF_HISTOGRAM_SCHEMA = (
    "asset_id bigint, n_distinct_idx int, modal_idx int, modal_count int, "
    "modal_r int, modal_g int, modal_b int, err string"
)


def gif_index_histogram(df: DataFrame) -> DataFrame:
    """Palette-index histogram features per decoded GIF: distinct index
    count, the modal index (ties to the LOWEST index, a total order),
    its pixel count, and the modal palette color — the palette-usage
    profile that drives palette-remap/requantization decisions (a GIF
    using 4 of 256 slots recompresses dramatically smaller). Runs the
    REAL decoder (`operators/gif.py`); malformed or unsupported
    payloads surface in ``err``. Arrow-batched ``mapInPandas``, narrow
    map, no shuffle."""
    from extract_transform_load_template_multidb_spark.operators import (
        gif as G,
    )

    import numpy as np

    def stats(raw: bytes) -> tuple:
        w, h, pal, idx = G.parse_gif(raw)
        counts = np.bincount(idx.ravel(), minlength=len(pal))
        modal = int(np.argmax(counts))  # argmax → lowest tie
        return (
            int((counts > 0).sum()),
            modal,
            int(counts[modal]),
            *(int(c) for c in pal[modal][:3]),
        )

    return _map_assets(df, stats, _GIF_HISTOGRAM_SCHEMA)


_GIF_REMAP_SCHEMA = (
    "asset_id bigint, n_colors_before int, n_colors_after int, "
    "bytes_before int, bytes_after int, mean_r double, mean_g double, "
    "mean_b double, err string"
)


def gif_palette_remap_reencode(df: DataFrame) -> DataFrame:
    """Palette compaction round trip with the REAL codec both ways:
    decode, drop unused palette slots (remap indices to a dense
    0..k-1 table), re-ENCODE with the compacted global color table,
    re-DECODE, and emit before/after color-table sizes, payload bytes,
    and the (invariant) mean RGB — asserting pixel-exactness inside the
    operator, where a lying remap would surface as an err row rather
    than a silent corruption. The requantization win
    `gif_index_histogram` estimates is realized here. Arrow-batched
    narrow map, no shuffle."""
    from extract_transform_load_template_multidb_spark.operators import (
        gif as G,
    )

    import numpy as np

    def stats(raw: bytes) -> tuple:
        w, h, pal, idx = G.parse_gif(raw)
        used = np.unique(idx)
        remap = np.zeros(len(pal), dtype=np.uint8)
        remap[used] = np.arange(len(used), dtype=np.uint8)
        new_pal = pal[used]
        out = G.encode_gif87a(remap[idx], new_pal)
        w2, h2, pal2, idx2 = G.parse_gif(out)
        if not np.array_equal(pal2[idx2.ravel()], pal[idx.ravel()]):
            raise ValueError("remap changed pixels")
        sums = pal[idx.ravel()].astype("int64").sum(axis=0)
        n = w * h
        return (
            int(len(pal)),
            int(len(new_pal)),
            int(len(raw)),
            int(len(out)),
            *(float(v) / n for v in sums),
        )

    return _map_assets(df, stats, _GIF_REMAP_SCHEMA)
