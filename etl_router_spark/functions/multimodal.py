"""Multimodal (image/audio/video) column plumbing.

Media is carried as an opaque ``binary`` column plus a typed metadata
struct — the layout a 100 TB multimodal training pipeline uses so that
Spark shuffles bytes without interpreting them and prunes metadata
columns independently of payloads.

The Spark-side machinery here (schemas, batch iteration via
``mapInPandas``, Arrow transfer, partition discipline) is real and
tested. The *decoders* are probed at import: when Pillow is on the
image, ``decoder="real"`` in ``extract_media_features`` /
``resize_images`` / ``average_hash`` decodes actual pixels through the
same mapInPandas seam; when it isn't (this container), the real paths
raise NotImplementedError at the exact plug-in line and
``decoder="fake"`` produces deterministic pseudo-features derived from
the bytes, so the plumbing stays testable end-to-end either way.
Audio/video real decoding (torchaudio/pyav) remains seam-only.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_router_spark.functions.sqltext import sql_ident

try:  # opportunistic: Pillow is not in this container, but real
    from PIL import Image as _PILImage  # cluster images may carry it

    HAS_PIL = True
except ImportError:  # pragma: no cover - exercised via skipif tests
    _PILImage = None
    HAS_PIL = False

MEDIA_META_SCHEMA = T.StructType([
    T.StructField("media_type", T.StringType()),   # image|audio|video
    T.StructField("format", T.StringType()),        # jpeg|png|wav|mp4|...
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("duration_ms", T.LongType()),
    T.StructField("sample_rate", T.IntegerType()),
])

FEATURE_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("n_bytes", T.LongType()),
    T.StructField("content_digest", T.StringType()),
    T.StructField("feature", T.ArrayType(T.FloatType())),
])


def attach_fake_media(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Test fixture: derive a deterministic binary payload + metadata
    struct from a text column (the container has no real media files)."""
    payload = F.encode(F.col(text_col), "utf-8")
    meta = F.struct(
        F.lit("image").alias("media_type"),
        F.lit("fake").alias("format"),
        (F.length(F.col(text_col)) % 640).cast("int").alias("width"),
        (F.length(F.col(text_col)) % 480).cast("int").alias("height"),
        F.lit(None).cast("long").alias("duration_ms"),
        F.lit(None).cast("int").alias("sample_rate"),
    )
    return df.select(F.col(id_col), payload.alias("media"), meta.alias("media_meta"))


def _fake_features(payload: bytes, n: int = 8) -> list[float]:
    """Deterministic pseudo-embedding: bytes of sha256 scaled to [0,1)."""
    digest = hashlib.sha256(payload).digest()
    return [digest[i] / 256.0 for i in range(n)]


def extract_media_features(
    df: DataFrame,
    media_col: str = "media",
    id_col: str = "doc_id",
    decoder: str = "fake",
    feature_dim: int = 8,
    batch_size: int = 256,
) -> DataFrame:
    """Decode/feature-extract media payloads via mapInPandas.

    Arrow streams ``batch_size``-row pandas batches through Python —
    the payload bytes stay off the JVM heap per-batch; partition count
    (not driver memory) bounds parallelism. This is the designated
    slow path: everything around it (filtering, metadata pruning,
    joins) happens before so only surviving rows pay the Python tax.
    """
    if decoder not in ("fake", "real"):
        raise ValueError("decoder must be 'fake' or 'real'")

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if decoder == "real":
                if not HAS_PIL:
                    # torchaudio/pyav (audio/video) stay seam-only; for
                    # images Pillow is probed at import
                    raise NotImplementedError(
                        "real media decoding requires Pillow (images) — "
                        "install it on the cluster image; audio/video "
                        "decoders (torchaudio/pyav) plug in here"
                    )
                import io as _io

                def pixel_features(b: bytes) -> list[float]:
                    # decode -> grayscale -> feature_dim x 1 thumbnail:
                    # the mean-pooled luminance stripe, scaled to [0,1]
                    img = _PILImage.open(_io.BytesIO(bytes(b)))
                    strip = img.convert("L").resize((feature_dim, 1))
                    return [p / 255.0 for p in strip.getdata()]

                feats = pdf[media_col].map(pixel_features)
            else:
                feats = pdf[media_col].map(
                    lambda b: _fake_features(bytes(b), feature_dim))
            out = pd.DataFrame({
                "doc_id": pdf[id_col].astype("int64"),
                "n_bytes": pdf[media_col].map(len).astype("int64"),
                "content_digest": pdf[media_col].map(lambda b: hashlib.sha256(bytes(b)).hexdigest()),
                "feature": feats,
            })
            yield out

    narrowed = df.select(id_col, media_col)  # column-prune before Python
    return narrowed.mapInPandas(process, schema=FEATURE_SCHEMA)


RESIZE_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("media", T.BinaryType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
])


def resize_images(
    df: DataFrame,
    width: int,
    height: int,
    media_col: str = "media",
    id_col: str = "doc_id",
    decoder: str = "fake",
) -> DataFrame:
    """Resize an image column via mapInPandas (decode -> resize ->
    re-encode per Arrow batch).

    ``decoder="fake"``: deterministic stand-in — output bytes =
    sha256-stretched payload of exactly width*height bytes, so the
    Spark-side plumbing (schema, batching, binary round-trip, output
    dimensions) is fully testable without PIL. ``decoder="real"`` is
    the PIL.Image seam (not installed in this container).
    """
    if decoder not in ("fake", "real"):
        raise ValueError("decoder must be 'fake' or 'real'")

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if decoder == "real":
                if not HAS_PIL:
                    raise NotImplementedError(
                        "real image resize requires Pillow; install it on "
                        "the cluster image"
                    )
                import io as _io

                def real_resize(b: bytes) -> bytes:
                    img = _PILImage.open(_io.BytesIO(bytes(b)))
                    resized = img.convert("RGB").resize((width, height))
                    buf = _io.BytesIO()
                    resized.save(buf, format="PNG")  # lossless re-encode
                    return buf.getvalue()

                yield pd.DataFrame({
                    "doc_id": pdf[id_col].astype("int64"),
                    "media": pdf[media_col].map(real_resize),
                    "width": width,
                    "height": height,
                })
                continue
            n = width * height

            def stretch(b: bytes) -> bytes:
                # hex-string hash chain (not raw-digest chain) so the
                # DuckDB oracle can rebuild it — duckdb's sha256 only
                # hashes VARCHARs, and sha256(hex) == sha256 of the
                # ASCII hex bytes on both engines
                out = bytearray()
                seed = hashlib.sha256(bytes(b)).hexdigest()
                while len(out) < n:
                    out.extend(bytes.fromhex(seed))
                    seed = hashlib.sha256(seed.encode()).hexdigest()
                return bytes(out[:n])

            yield pd.DataFrame({
                "doc_id": pdf[id_col].astype("int64"),
                "media": pdf[media_col].map(lambda b: stretch(bytes(b))),
                "width": width,
                "height": height,
            })

    return df.select(id_col, media_col).mapInPandas(process, schema=RESIZE_SCHEMA)


FRAME_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("frame_index", T.IntegerType()),
    T.StructField("frame", T.BinaryType()),
])


def sample_frames(
    df: DataFrame,
    every_n: int = 10,
    max_frames: int = 8,
    media_col: str = "media",
    id_col: str = "doc_id",
    decoder: str = "fake",
) -> DataFrame:
    """Sample frames from a video column: 1 input row -> N frame rows
    (the flatMap shape of ``TransformService.ProcessBatch`` 1->N,
    ``proto/transform.proto:24-29``).

    ``decoder="fake"`` emits deterministic 64-byte pseudo-frames keyed
    by (payload digest, frame index); ``decoder="real"`` is the pyav
    seam. The Arrow batch path and the row-explosion schema are real.
    """
    if decoder not in ("fake", "real"):
        raise ValueError("decoder must be 'fake' or 'real'")

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if decoder == "real":
                raise NotImplementedError(
                    "real frame sampling requires pyav: open the container, "
                    "decode every_n-th frame, cap at max_frames"
                )
            ids, idxs, frames = [], [], []
            for doc_id, payload in zip(pdf[id_col], pdf[media_col]):
                # hex-string keyed frames (digest_hex:index) so the
                # DuckDB oracle can rebuild frame bytes with its
                # VARCHAR-only sha256
                digest = hashlib.sha256(bytes(payload)).hexdigest()
                n_frames = min(max_frames, 1 + len(payload) // max(every_n, 1) % max_frames)
                for i in range(n_frames):
                    ids.append(int(doc_id))
                    idxs.append(i)
                    frames.append(bytes.fromhex(
                        hashlib.sha256(f"{digest}:{i}".encode()).hexdigest()))
            yield pd.DataFrame({"doc_id": ids, "frame_index": idxs, "frame": frames})

    return df.select(id_col, media_col).mapInPandas(process, schema=FRAME_SCHEMA)


def average_hash(
    df: DataFrame,
    media_col: str = "media",
    id_col: str = "doc_id",
    bits: int = 32,
    decoder: str = "fake",
) -> DataFrame:
    """Perceptual average-hash (aHash) code per media payload — the
    image-dedup primitive (bit i set iff pixel i brightens above the
    image mean; near-identical images land within small hamming
    distance, the LAION-style near-dup filter).

    ``decoder="fake"`` (default, oracle-mirrorable): the "pixels" are
    the ``bits`` bytes of the payload's sha256, and the hash is pure
    JVM column math — zero Python. ``decoder="real"`` (needs Pillow,
    probed at import): the textbook aHash pixel source — decode,
    grayscale, downscale to an 8 x bits/8 grid — through mapInPandas,
    with the identical mean/bit build, so only the decode pays the
    Arrow tax.

    Output: ``(id_col, ahash)`` with ahash in a BIGINT (bits <= 63).
    Pair generation: feed into ``dedup.hamming_pairs``.
    """
    if bits > 56 or bits % 8 != 0:
        raise ValueError("bits must be a multiple of 8, at most 56")
    if decoder not in ("fake", "real"):
        raise ValueError("decoder must be 'fake' or 'real'")
    if decoder == "real":
        if not HAS_PIL:
            raise NotImplementedError(
                "real average_hash requires Pillow; install it on the "
                "cluster image (decoder='fake' runs everywhere)"
            )

        def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            import io as _io

            for pdf in batches:
                def ahash(b: bytes) -> int:
                    img = _PILImage.open(_io.BytesIO(bytes(b)))
                    grid = img.convert("L").resize((8, bits // 8))
                    pixels = list(grid.getdata())
                    mean = sum(pixels) / bits
                    code = 0
                    for i, p in enumerate(pixels):
                        if p > mean:
                            code |= 1 << i
                    return code

                yield pd.DataFrame({
                    id_col: pdf[id_col],
                    "ahash": pdf[media_col].map(ahash).astype("int64"),
                })

        narrowed = df.select(id_col, media_col)
        id_type = narrowed.schema[id_col].dataType.simpleString()
        return narrowed.mapInPandas(
            process, schema=f"{sql_ident(id_col, alias=True)} {id_type}, ahash bigint")
    hexd = F.sha2(F.col(media_col), 256)
    pixels = [
        F.conv(F.substring(hexd, 2 * i + 1, 2), 16, 10).cast("int")
        for i in range(bits)
    ]
    total = pixels[0]
    for p in pixels[1:]:
        total = total + p
    mean = total / bits  # exact: integer sum over a power-of-two divisor
    code = F.lit(0).cast("bigint")
    for i, p in enumerate(pixels):
        code = code.bitwiseOR(
            F.when(p.cast("double") > mean, F.lit(1 << i).cast("bigint"))
            .otherwise(F.lit(0).cast("bigint"))
        )
    return df.select(F.col(id_col), code.alias("ahash"))
