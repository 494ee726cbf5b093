"""Multimodal columns: the `media` table carries image/audio/video
rows as opaque binary columns with typed metadata; decode and analysis
run in Arrow-batched mapInPandas stages.

The decode stage is REAL for PNG and baseline-JPEG images: PIL when
installed, else the vendored pure-stdlib readers (`functions/png.py`,
`functions/jpeg.py`) — all yielding the same ITU-R 601-2 luminance —
and the synthetic audio corpus decodes through the vendored RIFF/WAVE
PCM16 codec (`functions/wav.py`). Video rows are metadata only:
`frame_sample_plan`, `media_inventory` and `media_dedup` read their
duration and bytes, and nothing decodes them. Blobs no backend can
decode (non-image bytes such as the synthetic fixtures, progressive
JPEG) take the deterministic md5 stub; the Spark-side contract
(schema, batch shape, partitioning, UDF signature) is identical
either way.

Reference parity anchor: the reference's only binary pipeline is PNG
icon/thumbnail download + base64 into an LLM prompt
(downloadImages.ts:42-44, generateGameplayDescriptions.ts:67-97); the
media table mirrors that shape generalized to three media types.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterable, Iterator

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import parallelism
from ..sources import tables

MEDIA_TYPES = ("image", "audio", "video")


def _spread_gen_input(
    spark: SparkSession, sf_dir: str, d: DataFrame, batch: bool
) -> DataFrame:
    """Spread a synthetic-corpus generator's doc_id-only input over the
    scan-equivalent partition count (functions/parallelism.py) before
    its mapInPandas stage. The generators and every decode pass
    downstream of them are CPU-per-row work (vendored codecs), but the
    input is an 8-byte key stream off a byte-light scan — at fixture
    scale one task, and too small for byte-based AQE coalescing to keep
    parallel — so the codec work serialized on one core (measured r12:
    the JPEG contract ran 312 decode+resample+encode roundtrips on 1 of
    32 cores). The exchange moves keys, never blobs (guide §8: decide
    with small rows, move heavy bytes once — here the heavy bytes are
    *generated* after the exchange). Streaming twins (batch=False) keep
    their stateless no-shuffle per-microbatch shape.

    Routed through the layout gate (r13): on a healthy multi-split
    layout the scan is already parallel and the repartition would be a
    pure extra shuffle, so spread_scan returns the plan unchanged there."""
    if not batch:
        return d
    return parallelism.spread_scan(spark, sf_dir, d, "documents", "doc_id")

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),
        T.StructField("content", T.BinaryType(), False),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("duration_ms", T.IntegerType()),
                ]
            ),
        ),
    ]
)

def media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic media table derived from documents: content is the
    utf-8 text bytes (an opaque blob as far as the pipeline cares),
    media_type cycles by doc_id, metadata is arithmetic on doc_id."""
    d = tables.load_table(spark, sf_dir, "documents")
    mt = F.element_at(
        F.array(*[F.lit(m) for m in MEDIA_TYPES]), (F.col("doc_id") % 3 + 1).cast("int")
    )
    return d.select(
        "doc_id",
        mt.alias("media_type"),
        F.encode("text", "utf-8").alias("content"),
        F.struct(
            ((F.col("doc_id") % 8 + 1) * 64).cast("int").alias("width"),
            ((F.col("doc_id") % 4 + 1) * 64).cast("int").alias("height"),
            F.when(F.col("doc_id") % 3 != 0, ((F.col("doc_id") % 30 + 1) * 1000).cast("int")).alias(
                "duration_ms"
            ),
        ).alias("meta"),
    )

def _try_real_decoder():
    """Return ("pil", module) when PIL imports, else ("vendored",
    {fmt: module}) with the pure-stdlib PNG and baseline-JPEG readers
    (functions/png.py, functions/jpeg.py) — the real decode arm is
    ALWAYS available for both sniffed formats; blobs no backend can
    decode (e.g. the synthetic text-bytes fixtures) take the stub."""
    try:  # pragma: no cover - PIL not installed in this environment
        import PIL.Image  # noqa: F401

        return ("pil", PIL.Image)
    except ImportError:
        from ..functions import jpeg as _jpeg
        from ..functions import png as _png

        return ("vendored", {"png": _png, "jpeg": _jpeg})

_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
_JPEG_MAGIC = b"\xff\xd8\xff"

def _sniff_format(content: bytes) -> str:
    """Magic-bytes format sniff — the explicit dispatch gate for the
    decode stage. 'other' means the blob WILL stub-decode; the
    per-format counters in `media_inventory` make a corpus that is
    silently 100% stub-decoded visible (a training pipeline that
    thinks it extracted real pixel stats from opaque bytes is a silent
    data bug)."""
    if content[:8] == _PNG_MAGIC:
        return "png"
    if content[:3] == _JPEG_MAGIC:
        return "jpeg"
    return "other"

def media_format_expr(content) -> F.Column:
    """Pure-Catalyst twin of `_sniff_format` (hex-prefix compare on the
    first 8 bytes), usable in aggregations without a Python worker."""
    h8 = F.hex(F.substring(content, 1, 8))
    return (
        F.when(h8 == "89504E470D0A1A0A", F.lit("png"))
        .when(h8.startswith("FFD8FF"), F.lit("jpeg"))
        .otherwise(F.lit("other"))
    )

def _stub_pixels(content: bytes, width: int, height: int) -> list[float]:
    """STUB decode: deterministic 4-value 'pixel statistics' from the
    blob digest — stands in for mean/std channel stats of a real
    decode. NOT a real codec (documented; see module docstring)."""
    dig = hashlib.md5(content).digest()
    return [round(dig[i] / 255.0, 6) for i in range(4)]

def _real_pixels(backend, content: bytes, width: int, height: int) -> list[float]:
    """Real decode path: luminance mean/std plus decoded-vs-declared
    dimension ratios — the same 4-float shape as the stub so the Arrow
    schema is identical either way. Dispatch is an EXPLICIT
    magic-bytes sniff (`_sniff_format`): png → PIL or the vendored
    reader (same ITU-R 601-2 luminance, so a later PIL install does
    not change results on 8-bit PNGs), jpeg → PIL or the vendored
    baseline decoder (whose Y' channel IS that luma, so again
    backend-invariant), anything else → the documented deterministic
    stub. Corrupt blobs that pass the sniff but fail decode also fall
    back to the stub, keeping the operator total and deterministic in
    every environment."""
    import io

    kind, mod = backend
    fmt = _sniff_format(content)
    if fmt == "other":
        return _stub_pixels(content, width, height)
    try:
        import numpy as np

        if kind == "pil":
            img = mod.open(io.BytesIO(content)).convert("L")
            arr = np.asarray(img, dtype="float64") / 255.0
            w0, h0 = img.width, img.height
        elif fmt == "png":
            w0, h0, rows = mod["png"].decode_png_luminance(content)
            arr = np.asarray(rows, dtype="float64") / 255.0
        else:
            w0, h0, rows = mod["jpeg"].decode_jpeg_luminance(content)
            arr = np.asarray(rows, dtype="float64") / 255.0
        return [
            round(float(arr.mean()), 6),
            round(float(arr.std()), 6),
            round(w0 / max(int(width), 1), 6),
            round(h0 / max(int(height), 1), 6),
        ]
    except Exception:  # noqa: BLE001 — corrupt-but-sniffed blob -> documented stub
        return _stub_pixels(content, width, height)

FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),
        T.StructField("n_bytes", T.IntegerType(), False),
        T.StructField("features", T.ArrayType(T.DoubleType()), False),
    ]
)

def media_feature_arrays(
    spark: SparkSession,
    sf_dir: str,
    batch_hint: int = 1024,
    media_df: DataFrame | None = None,
) -> DataFrame:
    """Feature extraction over binary media: one Arrow batch in, one
    out, numpy/pure-python inside — the decode stage of a multimodal
    training pipeline. Partition-parallel; no shuffle at all.
    `media_df` overrides the fixture-derived media table (tests feed
    genuinely decodable PNG blobs through it to pin the real arm)."""
    import pandas as pd

    m = media(spark, sf_dir) if media_df is None else media_df

    def run(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        backend = _try_real_decoder()

        def decode(c, w, h):
            return _real_pixels(backend, c, w, h)
        for pdf in batches:
            feats = [
                decode(c, w, h)
                for c, w, h in zip(pdf["content"], pdf["meta"].str["width"], pdf["meta"].str["height"])
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": [len(c) for c in pdf["content"]],
                    "features": feats,
                }
            )

    return m.mapInPandas(run, FEATURES_SCHEMA)

def media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing feature table: the mapInPandas decode stage above,
    posexploded to one scalar row per feature component — raw
    ARRAY<DOUBLE> output is hostile to the driver's row canonicalizer
    (pandas sort_values can't order list cells), and the exploded shape
    is also what a feature store ingests. The explode is a narrow
    projection on top of the Arrow stage: still zero shuffles."""
    arrays = media_feature_arrays(spark, sf_dir)
    return arrays.select(
        "doc_id",
        "media_type",
        "n_bytes",
        F.posexplode("features").alias("pos", "feature"),
    ).select("doc_id", "media_type", "n_bytes", F.col("pos").cast("int").alias("pos"), "feature")

def media_features_oracle() -> str:
    """The stub decode is deterministic (md5 of the utf-8 blob), so the
    whole mapInPandas stage is oracle-checkable: DuckDB re-derives each
    feature byte from the hex digest. Python round() is banker's but
    dig/255 can never tie at 6 decimals (255*10^6/2 is not an integer
    multiple), so round-half modes agree."""
    return """
WITH m AS (
  SELECT doc_id,
         ['image','audio','video'][CAST(doc_id % 3 AS INT) + 1] AS media_type,
         md5(text) AS h,
         octet_length(encode(text)) AS n_bytes
  FROM documents
)
SELECT doc_id, media_type, CAST(n_bytes AS INT) AS n_bytes, CAST(i AS INT) AS pos,
       round(CAST(('0x' || substr(h, CAST(i AS INT) * 2 + 1, 2))::INT AS DOUBLE) / 255.0, 6) AS feature
FROM m, (SELECT unnest(range(4)) AS i)
"""

RESIZE_MAX_EDGE = 256

RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),
        T.StructField("width", T.IntegerType(), False),
        T.StructField("height", T.IntegerType(), False),
        T.StructField("out_width", T.IntegerType(), False),
        T.StructField("out_height", T.IntegerType(), False),
        T.StructField("scale", T.DoubleType(), False),
        T.StructField("resample", T.StringType(), False),
        T.StructField("resized_digest", T.StringType(), False),
    ]
)


def media_resized(
    spark: SparkSession,
    sf_dir: str,
    max_edge: int = RESIZE_MAX_EDGE,
    media_df: DataFrame | None = None,
) -> DataFrame:
    """The RESIZE stage of the multimodal pipeline: cap every asset at
    `max_edge` on its longest side, preserving aspect ratio — the
    normalization pass a vision-training pipeline runs before
    feature extraction (decode -> RESIZE -> encode). Arrow-batched
    mapInPandas with the same plumbing contract as the decode stage
    (schema, batch shape, partition parallelism, zero shuffles).

    The pixel resample is REAL for every blob the decode stage can
    read (r9; previously a digest stub for all blobs): decodable
    png/jpeg content (magic-bytes sniff, same gate as
    `media_features`) is decoded to luminance (PIL or the vendored
    pure-stdlib readers), area-weighted box-resampled
    (functions/resample.py) to the emitted (out_width, out_height),
    re-encoded with the vendored PNG encoder (functions/png.py —
    always the vendored encoder, so the resized bytes are
    backend-invariant), and `resized_digest` is the md5 of those real
    resized bytes. Undecodable blobs (sniffed 'other', or corrupt
    despite the sniff) take the documented deterministic stub digest —
    and the `resample` column ('real'/'stub') is the per-row
    observability twin of `media_inventory`'s sniff counters, so a
    corpus that silently falls back to 100% stub is visible. The
    dimension arithmetic is the same for both arms:
    scale = min(1, max_edge / longest side), floor-scaled dims with a
    1px floor. Emits (doc_id, media_type, width, height, out_width,
    out_height, scale, resample, resized_digest)."""
    import math

    import pandas as pd

    m = media(spark, sf_dir) if media_df is None else media_df

    def run(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        backend = _try_real_decoder()
        for pdf in batches:
            out_w, out_h, scales, arms, digs = [], [], [], [], []
            for c, w, h in zip(
                pdf["content"], pdf["meta"].str["width"], pdf["meta"].str["height"]
            ):
                w, h = int(w), int(h)
                edge = max(w, h)
                scale = 1.0 if edge <= max_edge else max_edge / float(edge)
                ow = max(1, math.floor(w * scale))
                oh = max(1, math.floor(h * scale))
                out_w.append(ow)
                out_h.append(oh)
                # half-away-from-zero, matching DuckDB round(x,6) — Python
                # round() is banker's and would diverge on a .5 tie at the
                # 6th decimal if CONTRACT_MAX_EDGE/dims ever land on one
                # (scale is always in (0, 1], so no negative branch needed)
                scales.append(math.floor(scale * 1e6 + 0.5) / 1e6)
                real = _real_resize_digest(backend, bytes(c), ow, oh)
                arms.append("real" if real is not None else "stub")
                digs.append(
                    real if real is not None else _stub_resize_digest(bytes(c), ow, oh)
                )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "width": pdf["meta"].str["width"],
                    "height": pdf["meta"].str["height"],
                    "out_width": out_w,
                    "out_height": out_h,
                    "scale": scales,
                    "resample": arms,
                    "resized_digest": digs,
                }
            )

    return m.mapInPandas(run, RESIZED_SCHEMA)


def _real_resize_bytes(
    backend, content: bytes, out_w: int, out_h: int
) -> bytes | None:
    """REAL resample arm, bytes form: decode luminance (PIL or vendored
    readers — the same dispatch as `_real_pixels`), box-resample to the
    target dims (functions/resample.py), re-encode with the VENDORED
    PNG encoder (even when PIL decoded — one encoder, so the output
    bytes and digest are identical in every environment). None = not
    decodable (sniffed 'other', or corrupt despite the sniff)."""
    from ..functions import png as _pngmod
    from ..functions import resample as _resample

    rows = _decode_luminance(backend, content)
    if rows is None:
        return None
    try:
        resized = _resample.resample_gray_box(rows, out_w, out_h)
        return _pngmod.encode_png_gray(resized)
    except Exception:  # noqa: BLE001 — degenerate decoded shape -> documented stub
        return None


def _decode_luminance(backend, content: bytes) -> list[list[int]] | None:
    """Luminance rows for a decodable blob (the shared decode dispatch
    of the REAL arm: PIL when present, else the vendored PNG/baseline-
    JPEG readers by magic-bytes sniff), or None when the blob sniffs
    'other' or is corrupt despite the sniff — callers take the
    documented stub then."""
    import io

    kind, mod = backend
    fmt = _sniff_format(content)
    if fmt == "other":
        return None
    try:
        if kind == "pil":
            img = mod.open(io.BytesIO(content)).convert("L")
            return [list(r) for r in _np_rows(img)]
        if fmt == "png":
            return mod["png"].decode_png_luminance(content)[2]
        return mod["jpeg"].decode_jpeg_luminance(content)[2]
    except Exception:  # noqa: BLE001 — corrupt-but-sniffed blob -> documented stub
        return None


def _real_resize_digest(
    backend, content: bytes, out_w: int, out_h: int
) -> str | None:
    """md5 of `_real_resize_bytes`, or None when the blob isn't
    decodable — caller falls back to the documented stub and marks the
    row (the `resample` observability column)."""
    data = _real_resize_bytes(backend, content, out_w, out_h)
    return None if data is None else hashlib.md5(data).hexdigest()


def _np_rows(img):  # pragma: no cover - PIL not installed here
    import numpy as np

    return np.asarray(img, dtype="int64").tolist()


def _stub_resize_digest(content: bytes, out_w: int, out_h: int) -> str:
    """STUB resample for blobs no decoder can read: the resized blob's
    identity is the digest of (source digest, target dims) —
    deterministic, engine-reproducible (DuckDB re-derives it in the
    oracle), NOT real pixels (documented; decodable blobs take
    `_real_resize_digest`)."""
    src = hashlib.md5(content).hexdigest()
    return hashlib.md5(f"{src}:{out_w}x{out_h}".encode()).hexdigest()


def media_resized_oracle(max_edge: int = RESIZE_MAX_EDGE) -> str:
    """Dims re-derived from the media projection's arithmetic, the arm
    from the same magic-bytes sniff `media_inventory`'s oracle uses,
    the stub digest from md5 chains over the same strings — the whole
    mapInPandas stage is value-pinned like media_features'. The oracle
    expresses the STUB arm's digest (fixture blobs are text bytes, so
    every row sniffs 'other'); a corpus with genuinely decodable blobs
    would surface as a red row here by design — the real arm's bytes
    are pinned by the pytest roundtrip against an independent resample
    (test_multimodal.py), not by SQL."""
    return f"""
WITH m AS (
  SELECT doc_id,
         ['image','audio','video'][CAST(doc_id % 3 AS INT) + 1] AS media_type,
         CAST((doc_id % 8 + 1) * 64 AS INT) AS width,
         CAST((doc_id % 4 + 1) * 64 AS INT) AS height,
         md5(text) AS h,
         CASE WHEN substr(hex(encode(text)), 1, 16) = '89504E470D0A1A0A'
                OR substr(hex(encode(text)), 1, 6) = 'FFD8FF'
              THEN 'real' ELSE 'stub' END AS resample
  FROM documents
),
s AS (
  SELECT *,
         CASE WHEN greatest(width, height) <= {max_edge} THEN 1.0
              ELSE {max_edge} / CAST(greatest(width, height) AS DOUBLE) END AS raw_scale
  FROM m
),
o AS (
  SELECT *,
         CAST(greatest(1, floor(width * raw_scale)) AS INT) AS out_width,
         CAST(greatest(1, floor(height * raw_scale)) AS INT) AS out_height
  FROM s
)
SELECT doc_id, media_type, width, height, out_width, out_height,
       round(raw_scale, 6) AS scale,
       resample,
       md5(h || ':' || CAST(out_width AS VARCHAR) || 'x' || CAST(out_height AS VARCHAR))
         AS resized_digest
FROM o
"""


# ---------------------------------------------------------------------------
# Real-resample contract (generative PNG corpus)
# ---------------------------------------------------------------------------

# 1-in-16 of the documents table becomes a synthetic PNG; dims are
# small multiples of 8 (8..64 x 8..32) so the pure-Python decode +
# box-resample stays cheap per row while still exercising both the
# pass-through (long edge <= max_edge) and downscale arms.
CONTRACT_MODULO = 16
CONTRACT_MAX_EDGE = 32


def synthetic_png_media(
    spark: SparkSession, sf_dir: str, modulo: int = CONTRACT_MODULO
) -> DataFrame:
    """Generative media corpus whose blobs are REAL PNGs: every
    (doc_id % modulo == 0) document becomes an 8-bit grayscale image
    encoded with the vendored encoder (functions/png.py), pixel(r, c) =
    (doc_id*31 + r*7 + c*13) % 256. Dims come from k = doc_id/modulo
    ((k%8+1)*8 x (k%4+1)*8) — NOT from doc_id itself, whose residues
    the modulo filter fixes (doc_id%16==0 implies doc_id%8==0, which
    would pin every image to 8x8 and leave the downscale arm dead).
    Deterministic in doc_id alone, so
    any engine (and any retry of any partition) synthesizes the exact
    same bytes. Same schema as `media()`; exists because the driver
    fixtures' blobs are text bytes that always sniff 'other', leaving
    the REAL resample arm unreachable from SQL-checkable rows.

    Scale shape: one column-pruned scan of documents (doc_id only),
    one Arrow-batched mapInPandas synthesizing ~n/modulo blobs with
    partition-local work — no shuffle, no driver collection."""
    return _synthetic_gray_media(spark, sf_dir, modulo, residue=0, fmt="png")


def synthetic_jpeg_media(
    spark: SparkSession, sf_dir: str, modulo: int = CONTRACT_MODULO
) -> DataFrame:
    """JPEG twin of `synthetic_png_media` (r11): real baseline JPEGs
    from the vendored encoder (functions/jpeg.py, quant=all-ones), on
    the residue-(modulo/2) docs so the two generative corpora never
    overlap a row. Same dims lattice via k = doc_id/modulo — both
    resize arms appear — and deterministic in doc_id alone. Half the
    corpus is grayscale SOF0, half 3-component 4:2:0 with flat chroma
    (the decoder's chroma bitstream-sync path), chosen by (k/8)%2 —
    k/8, not k, because the dims lattice has period 8 in k and a k%2
    split would pin the color codec to 16-multiple widths only,
    leaving its partial-MCU edge-replication path dead (the r10
    residue-pinning lesson applied one level up)."""
    return _synthetic_gray_media(
        spark, sf_dir, modulo, residue=modulo // 2, fmt="jpeg"
    )


def _synthetic_gray_media(
    spark: SparkSession, sf_dir: str, modulo: int, residue: int, fmt: str
) -> DataFrame:
    import pandas as pd

    d = _spread_gen_input(
        spark,
        sf_dir,
        tables.load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % modulo == residue)
        .select("doc_id"),
        batch=True,
    )

    def gen(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from ..functions import jpeg as _jpegmod
        from ..functions import png as _pngmod

        for pdf in batches:
            metas, blobs = [], []
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                k = doc_id // modulo
                w = (k % 8 + 1) * 8
                h = (k % 4 + 1) * 8
                # exact-integer lattice, vectorized (same values as the
                # old per-pixel comprehension)
                rows = (
                    (doc_id * 31 + 7 * np.arange(h)[:, None] + 13 * np.arange(w)[None, :])
                    % 256
                ).tolist()
                if fmt == "png":
                    encode = _pngmod.encode_png_gray
                elif (k // 8) % 2 == 1:
                    encode = _jpegmod.encode_jpeg_color420_flat_chroma
                else:
                    encode = _jpegmod.encode_jpeg_gray
                blobs.append(encode(rows))
                metas.append({"width": w, "height": h, "duration_ms": None})
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": ["image"] * len(blobs),
                    "content": blobs,
                    "meta": metas,
                }
            )

    return d.mapInPandas(gen, MEDIA_SCHEMA)


CONTRACT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("c_digest", T.StringType(), False),
        T.StructField("dims_ok", T.BooleanType(), False),
        T.StructField("roundtrip_ok", T.BooleanType(), False),
        T.StructField("digest_stable", T.BooleanType(), False),
    ]
)


def _resize_contract_fn(
    batches: "Iterable", max_edge: int
) -> "Iterator":  # pragma: no cover - exercised via media_resize_contract
    """Per-row contract evaluation for the REAL resample arm: resample
    the synthetic blob twice through `_real_resize_bytes`, decode the
    output PNG back, and report (a) decoded dims == target dims,
    (b) decoded pixels == an in-place box-resample of the SOURCE
    DECODE's pixels, (c) byte-for-byte stability across the two runs.
    The roundtrip is exact for BOTH source formats: the resize output
    is always PNG (lossless), and the comparison reference is the
    source blob's decoded luminance — for JPEG sources the codec's
    loss happens upstream of the comparison point on both sides, so
    equality still certifies decode+resample+encode end-to-end. Emits
    the md5 of the resized bytes so the caller can bind these booleans
    to the digest `media_resized` actually emitted for the same row.
    The source decode goes through the SAME backend dispatch the
    operator uses (`_decode_luminance`: PIL when installed, vendored
    readers otherwise) so the exact-equality roundtrip never compares
    two different codec implementations against each other."""
    import math

    import pandas as pd

    from ..functions import png as _pngmod
    from ..functions import resample as _resample

    backend = _try_real_decoder()
    for pdf in batches:
        out = {k: [] for k in ("doc_id", "c_digest", "dims_ok", "roundtrip_ok", "digest_stable")}
        for doc_id, content, meta in zip(pdf["doc_id"], pdf["content"], pdf["meta"]):
            w, h = int(meta["width"]), int(meta["height"])
            edge = max(w, h)
            scale = 1.0 if edge <= max_edge else max_edge / float(edge)
            ow = max(1, math.floor(w * scale))
            oh = max(1, math.floor(h * scale))
            content = bytes(content)
            data = _real_resize_bytes(backend, content, ow, oh)
            data2 = _real_resize_bytes(backend, content, ow, oh)
            if data is None or data2 is None:
                # not decodable: contract rows are all-False, the digest
                # is the stub's — a red oracle row by design
                out["doc_id"].append(doc_id)
                out["c_digest"].append(_stub_resize_digest(content, ow, oh))
                out["dims_ok"].append(False)
                out["roundtrip_ok"].append(False)
                out["digest_stable"].append(False)
                continue
            # output decode is always the vendored PNG reader (the
            # resize output is vendored-encoded PNG, bit-identical
            # everywhere); the SOURCE decode must go through the SAME
            # backend dispatch the operator used — with Pillow
            # installed the operator decodes JPEG via libjpeg, whose
            # integer IDCT differs by +/-1 from the vendored float
            # IDCT, and a vendored-only reference here would red the
            # exact-equality roundtrip on a correct pipeline
            # (self-review r11; latent in this PIL-less container)
            dw, dh, drows = _pngmod.decode_png_luminance(data)
            srows = _decode_luminance(backend, content)
            expect = _resample.resample_gray_box(srows, ow, oh)
            out["doc_id"].append(doc_id)
            out["c_digest"].append(hashlib.md5(data).hexdigest())
            out["dims_ok"].append((dw, dh) == (ow, oh))
            out["roundtrip_ok"].append(drows == expect)
            out["digest_stable"].append(data == data2)
        yield pd.DataFrame(out)


def media_resize_contract(
    spark: SparkSession,
    sf_dir: str,
    max_edge: int = CONTRACT_MAX_EDGE,
    modulo: int = CONTRACT_MODULO,
) -> DataFrame:
    """Oracle-grade certification of the REAL resample arm (the one
    mapInPandas stage driver fixtures could never reach): run the
    actual `media_resized` operator over a generative corpus of real
    vendored-encoder PNGs, independently re-resample + decode each
    row's output, and emit the checks as contract BOOLEANS the DuckDB
    oracle hash-verifies as TRUE (the `hll_daily_users` accuracy-
    contract pattern, timeseries.py). `resample` is emitted as-is and
    the oracle pins it to the literal 'real', so a corpus that
    silently falls back to the stub arm turns the row red.

    dims_ok: decoding the resized PNG yields exactly (out_width,
    out_height). roundtrip_ok: the decoded pixels equal a box-resample
    of the original pixels — PNG is lossless, so the operator's
    encode must be exact. digest_stable: two independent resample runs
    produce identical bytes. digest_match: `media_resized`'s emitted
    digest is the md5 of the very bytes those checks decoded — binds
    the operator's output to the verified pixels.

    Scale shape: ONE synthesized corpus persisted across its two
    consumers (Catalyst instantiates a subtree once per reference —
    unpersisted, the resize branch and the contract branch would each
    regenerate every PNG), then two mapInPandas passes joined once on
    doc_id; both sides inherit the same scan partitioning and the
    join is corpus/modulo-sized. Zero driver-side work."""
    import pandas as pd  # noqa: F401 — mapInPandas dependency, import-checked here

    from ..functions.caching import persist_if

    corpus = persist_if(
        synthetic_png_media(spark, sf_dir, modulo),
        max_edge == CONTRACT_MAX_EDGE and modulo == CONTRACT_MODULO,
    )
    return _resize_contract(spark, sf_dir, corpus, max_edge)


def media_resize_contract_jpeg(
    spark: SparkSession,
    sf_dir: str,
    max_edge: int = CONTRACT_MAX_EDGE,
    modulo: int = CONTRACT_MODULO,
) -> DataFrame:
    """JPEG twin of `media_resize_contract` (r11 — closes the r10
    verdict's last coverage gap): run the actual `media_resized`
    operator over a generative corpus of real vendored-encoder
    baseline JPEGs (`synthetic_jpeg_media`) and oracle-pin the same
    contract booleans TRUE with `resample` pinned to the literal
    'real'. The pixel roundtrip is EXACT here too, not skipped: the
    resize output is always PNG (lossless), and the contract compares
    its decode against a box-resample of the JPEG's own decoded
    luminance — the codec's loss sits upstream of the comparison on
    both sides, so equality certifies the vendored JPEG decode
    (functions/jpeg.py), the resample kernel, and the re-encode
    end-to-end. A silent stub fallback, a dim drift, or an unstable
    byte stream each flips a column and reds the hash.

    Scale shape: identical to the PNG contract — one persisted
    generative corpus feeding two mapInPandas passes joined once on
    doc_id, zero driver-side work."""
    import pandas as pd  # noqa: F401 — mapInPandas dependency, import-checked here

    from ..functions.caching import persist_if

    corpus = persist_if(
        synthetic_jpeg_media(spark, sf_dir, modulo),
        max_edge == CONTRACT_MAX_EDGE and modulo == CONTRACT_MODULO,
    )
    return _resize_contract(spark, sf_dir, corpus, max_edge)


def _resize_contract(
    spark: SparkSession, sf_dir: str, corpus: DataFrame, max_edge: int
) -> DataFrame:
    resized = media_resized(spark, sf_dir, max_edge, media_df=corpus)

    def run(batches):
        return _resize_contract_fn(batches, max_edge)

    contract = corpus.mapInPandas(run, CONTRACT_SCHEMA)
    return resized.join(contract, "doc_id").select(
        "doc_id",
        "width",
        "height",
        "out_width",
        "out_height",
        "scale",
        "resample",
        "dims_ok",
        "roundtrip_ok",
        "digest_stable",
        (F.col("resized_digest") == F.col("c_digest")).alias("digest_match"),
    )


def media_resize_contract_jpeg_oracle(
    max_edge: int = CONTRACT_MAX_EDGE, modulo: int = CONTRACT_MODULO
) -> str:
    """Same pinning as the PNG contract oracle, over the JPEG corpus's
    residue-(modulo/2) doc_id lattice."""
    return media_resize_contract_oracle(max_edge, modulo, residue=modulo // 2)


def media_resize_contract_oracle(
    max_edge: int = CONTRACT_MAX_EDGE, modulo: int = CONTRACT_MODULO,
    residue: int = 0,
) -> str:
    """Everything SQL can re-derive, re-derived (dims, scale, the
    doc_id lattice); everything SQL can't (real pixel bytes), pinned
    as TRUE contract booleans and the literal 'real' arm — a stub
    fallback, a dim drift, a lossy encode, or an unstable byte stream
    each flips a column and reds the hash."""
    return f"""
WITH m AS (
  SELECT doc_id,
         CAST(((doc_id // {modulo}) % 8 + 1) * 8 AS INT) AS width,
         CAST(((doc_id // {modulo}) % 4 + 1) * 8 AS INT) AS height
  FROM documents WHERE doc_id % {modulo} = {residue}
),
s AS (
  SELECT *,
         CASE WHEN greatest(width, height) <= {max_edge} THEN 1.0
              ELSE {max_edge} / CAST(greatest(width, height) AS DOUBLE) END AS raw_scale
  FROM m
)
SELECT doc_id, width, height,
       CAST(greatest(1, floor(width * raw_scale)) AS INT) AS out_width,
       CAST(greatest(1, floor(height * raw_scale)) AS INT) AS out_height,
       round(raw_scale, 6) AS scale,
       'real' AS resample,
       TRUE AS dims_ok,
       TRUE AS roundtrip_ok,
       TRUE AS digest_stable,
       TRUE AS digest_match
FROM s
"""


# ---------------------------------------------------------------------------
# Perceptual image hash (average-hash over REAL decoded pixels)
# ---------------------------------------------------------------------------

# 4 consecutive k-indices share one logical image (at different dims
# and codecs) — the constructed duplicates the dup-pair oracle derives.
PHASH_DUP_GROUP = 4
PHASH_BUCKET_CAP = 64
_PHASH_MIX = 2654435761  # Knuth multiplicative-hash constant (public)


def synthetic_dup_media(
    spark: SparkSession,
    sf_dir: str,
    modulo: int = CONTRACT_MODULO,
    docs: DataFrame | None = None,
) -> DataFrame:
    """Generative corpus of CONSTRUCTED perceptual duplicates on the
    residue-(modulo/4) docs (disjoint from both resize-contract
    corpora): every 4 consecutive k = doc_id/modulo indices share one
    logical image — jdx = k/4 picks the content, k picks the dims
    ((k%8+1)*8 x (k%4+1)*8) and the codec (PNG for even k, baseline
    JPEG for odd) — so the same picture appears at different sizes AND
    different encodings, the duplicate classes binary dedup
    (`media_dedup`) is blind to by construction.

    The content is an 8x8 logical bit grid scaled to the pixel dims
    (cell (gr,gc) spans an exact (h/8)x(w/8) rectangle — dims are
    multiples of 8): bit = jdx * Knuth-mix bit at position
    2*(idx/2), complemented at odd idx so EXACTLY half the cells are
    255 — the global mean sits at 127.5 with a full-range margin on
    every cell, making the average-hash bit-stable under the JPEG
    arm's +/-1 DCT rounding. Deterministic in doc_id alone; the hash
    each blob must decode back to is pure doc_id arithmetic, which is
    what lets DuckDB value-pin `media_phash` end-to-end.

    `docs` lets a caller supply its own doc_id DataFrame — including a
    STREAMING one (the generator is a stateless mapInPandas, so the
    ingest front door can synthesize-and-hash per microbatch); the
    residue filter is applied either way so role predicates compose."""
    import pandas as pd

    d = _spread_gen_input(
        spark,
        sf_dir,
        (tables.load_table(spark, sf_dir, "documents") if docs is None else docs)
        .filter(F.col("doc_id") % modulo == modulo // 4)
        .select("doc_id"),
        batch=docs is None,
    )

    def gen(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..functions import jpeg as _jpegmod
        from ..functions import png as _pngmod

        for pdf in batches:
            metas, blobs = [], []
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                k = doc_id // modulo
                w = (k % 8 + 1) * 8
                h = (k % 4 + 1) * 8
                bits = _phash_expected_bits(k // PHASH_DUP_GROUP)
                rows = [
                    [255 * bits[(r * 8 // h) * 8 + (c * 8 // w)] for c in range(w)]
                    for r in range(h)
                ]
                encode = (
                    _pngmod.encode_png_gray if k % 2 == 0 else _jpegmod.encode_jpeg_gray
                )
                blobs.append(encode(rows))
                metas.append({"width": w, "height": h, "duration_ms": None})
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": ["image"] * len(blobs),
                    "content": blobs,
                    "meta": metas,
                }
            )

    return d.mapInPandas(gen, MEDIA_SCHEMA)


def _phash_expected_bits(jdx: int) -> list[int]:
    """The 64-bit pattern image jdx encodes: even positions take bit
    2*(idx/2) of jdx * the Knuth mix constant, odd positions its
    complement (exact half/half balance — see synthetic_dup_media).
    The product is reduced mod 2^63, NOT 2^64: only bit positions
    <= 62 are ever read, the values are identical, and 2^63 keeps the
    DuckDB twin inside signed-BIGINT range (a plain BIGINT multiply
    hard-errors on overflow at jdx ~3.5e9 — doc_id space a 100 TB
    corpus genuinely reaches; self-review r11)."""
    prod = (jdx * _PHASH_MIX) % (1 << 63)
    out = []
    for idx in range(64):
        base = (prod >> (idx - (idx % 2))) & 1
        out.append(base if idx % 2 == 0 else 1 - base)
    return out


def _ahash64(rows: list[list[int]]) -> str:
    """Average-hash: box-resample the luminance to 8x8, threshold each
    cell at the global cell mean (strictly-greater), emit the 64 bits
    as a '0'/'1' string. The classic perceptual fingerprint: invariant
    to uniform rescaling and to small codec noise, which is exactly
    what makes resized/re-encoded duplicates collide."""
    from ..functions import resample as _resample

    cells = _resample.resample_gray_box(rows, 8, 8)
    flat = [v for row in cells for v in row]
    mean = sum(flat) / 64.0
    return "".join("1" if v > mean else "0" for v in flat)


PHASH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("codec", T.StringType(), False),
        T.StructField("width", T.IntegerType(), False),
        T.StructField("height", T.IntegerType(), False),
        T.StructField("phash", T.StringType(), False),
        T.StructField("arm", T.StringType(), False),
    ]
)


def media_phash(
    spark: SparkSession,
    sf_dir: str,
    modulo: int = CONTRACT_MODULO,
    media_df: DataFrame | None = None,
) -> DataFrame:
    """Perceptual average-hash over REAL decoded pixels (r11): decode
    each blob's luminance (vendored PNG/JPEG readers), box-resample to
    8x8, threshold at the cell mean. Two blobs that are the same
    picture at different dims or different codecs hash identically —
    the duplicate classes exact binary dedup can never see. Run over
    the constructed-duplicate corpus, the expected hash is pure doc_id
    arithmetic, so the DuckDB oracle VALUE-pins the entire
    decode→resample→threshold pipeline (stronger than the resize
    contract's boolean pinning); a stub fallback flips `arm` and reds
    the hash. Undecodable blobs take a deterministic md5-derived stub
    hash with arm='stub' (pytest negative arm).

    Scale shape: one column-pruned documents scan feeding one
    Arrow-batched mapInPandas — per-row partition-local work, zero
    shuffles, zero driver collection. The result is persisted for its
    two registry consumers (this query and the dup-pair self-join)."""
    import pandas as pd

    from ..functions.caching import persist_if

    invariant = media_df is None and modulo == CONTRACT_MODULO
    corpus = (
        synthetic_dup_media(spark, sf_dir, modulo) if media_df is None else media_df
    )

    def run(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        backend = _try_real_decoder()
        for pdf in batches:
            out = {k: [] for k in ("doc_id", "codec", "width", "height", "phash", "arm")}
            for doc_id, content, meta in zip(pdf["doc_id"], pdf["content"], pdf["meta"]):
                content = bytes(content)
                rows = _decode_luminance(backend, content)
                if rows is None:
                    dig = hashlib.md5(content).digest()
                    bits = "".join(
                        format(b, "08b") for b in dig[:8]
                    )  # deterministic 64-bit stub fingerprint
                    arm = "stub"
                else:
                    bits = _ahash64(rows)
                    arm = "real"
                out["doc_id"].append(doc_id)
                out["codec"].append(_sniff_format(content))
                out["width"].append(int(meta["width"]))
                out["height"].append(int(meta["height"]))
                out["phash"].append(bits)
                out["arm"].append(arm)
            yield pd.DataFrame(out)

    return persist_if(corpus.mapInPandas(run, PHASH_SCHEMA), invariant)


def _phash_sql_ctes(modulo: int) -> str:
    """The shared per-doc hash derivation (m -> bits -> h CTEs) both
    phash oracles embed — ONE definition of the fingerprint formula,
    so a formula change can never make the two gate queries disagree.
    The mix product runs in HUGEINT and reduces mod 2^63 exactly like
    the Python side (see `_phash_expected_bits`): BIGINT multiply
    hard-errors on overflow at the jdx a 100 TB doc_id space reaches."""
    return f"""m AS (
  SELECT doc_id,
         doc_id // {modulo} AS k,
         CAST((CAST((doc_id // {modulo}) // {PHASH_DUP_GROUP} AS HUGEINT)
               * {_PHASH_MIX}) % 9223372036854775808 AS BIGINT) AS p
  FROM documents WHERE doc_id % {modulo} = {modulo // 4}
),
bits AS (
  SELECT doc_id, i,
         CASE WHEN i % 2 = 0 THEN (p >> CAST(i AS INT)) & 1
              ELSE 1 - ((p >> CAST(i - 1 AS INT)) & 1) END AS b
  FROM m, range(64) t(i)
),
h AS (
  SELECT doc_id, string_agg(CAST(b AS VARCHAR), '' ORDER BY i) AS phash
  FROM bits GROUP BY doc_id
)"""


def media_phash_oracle(modulo: int = CONTRACT_MODULO) -> str:
    """Value-level re-derivation: dims and codec from the k lattice,
    the hash from the jdx bit formula — if the Spark side's real
    decode, resample, or threshold drifts by one bit anywhere, the
    row's 64-char hash string changes and the value hash reds."""
    return f"""
WITH {_phash_sql_ctes(modulo)}
SELECT m.doc_id,
       CASE WHEN k % 2 = 0 THEN 'png' ELSE 'jpeg' END AS codec,
       CAST((k % 8 + 1) * 8 AS INT) AS width,
       CAST((k % 4 + 1) * 8 AS INT) AS height,
       h.phash,
       'real' AS arm
FROM m JOIN h USING (doc_id)
"""


def media_phash_dup_pairs(
    spark: SparkSession,
    sf_dir: str,
    modulo: int = CONTRACT_MODULO,
    bucket_cap: int = PHASH_BUCKET_CAP,
) -> DataFrame:
    """Perceptual duplicate pairs: docs whose average-hashes are
    IDENTICAL — resized and re-encoded copies of one picture — via a
    self-join on the hash, the `lsh_candidate_pairs` discipline
    applied to images: the shuffle key is the 64-bit fingerprint, so
    cluster layout co-locates each bucket and the pair space never
    materializes beyond actual collisions; buckets wider than
    bucket_cap are dropped (a duplicate-saturated crawl collapses into
    few hot hashes and the uncapped join goes quadratic inside them —
    those classes belong to clustering, not pairwise listing), with
    the cap mirrored exactly in the oracle. Hamming-near (<= t) pairs
    would band the 64 bits like `simhash_banded_near_dups`; identical-
    hash pairs are the t=0 fast path and already catch every
    dims/codec re-encode of the same logical image.

    Scale shape: the persisted phash table feeds both join sides (one
    Arrow decode pass total), one exchange on phash, window cap on the
    join key adds no exchange. Output is pair + the shared hash."""
    ph = media_phash(spark, sf_dir, modulo)
    wb = Window.partitionBy("phash")
    capped = (
        ph.withColumn("bucket_n", F.count(F.lit(1)).over(wb))
        .filter(F.col("bucket_n") <= bucket_cap)
        .drop("bucket_n")
    )
    left = capped.select("phash", F.col("doc_id").alias("doc_a"), F.col("codec").alias("codec_a"))
    right = capped.select("phash", F.col("doc_id").alias("doc_b"), F.col("codec").alias("codec_b"))
    return (
        left.join(right, "phash")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            "phash",
            (F.col("codec_a") != F.col("codec_b")).alias("cross_codec"),
        )
    )


def media_phash_dup_pairs_oracle(
    modulo: int = CONTRACT_MODULO, bucket_cap: int = PHASH_BUCKET_CAP
) -> str:
    """Pairs re-derived by self-joining the SAME per-doc hash formula
    (the shared `_phash_sql_ctes` — one definition) — parity holds
    even if distinct jdx values ever collided to one pattern, because
    both engines join on the hash, not on jdx."""
    return f"""
WITH {_phash_sql_ctes(modulo)},
hc AS (
  SELECT h.doc_id, h.phash,
         CASE WHEN m.k % 2 = 0 THEN 'png' ELSE 'jpeg' END AS codec
  FROM h JOIN m USING (doc_id)
),
bcnt AS (SELECT phash, count(*) AS n FROM hc GROUP BY 1),
capped AS (SELECT hc.* FROM hc JOIN bcnt USING (phash) WHERE bcnt.n <= {bucket_cap})
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.phash,
       a.codec <> b.codec AS cross_codec
FROM capped a JOIN capped b ON a.phash = b.phash AND a.doc_id < b.doc_id
"""


def _dup_k(modulo: int) -> F.Column:
    # integer division (`div`), not float `/`+cast — exact at any doc_id
    return F.expr(f"doc_id div {modulo}")


def media_ingest_dedup(
    spark: SparkSession, sf_dir: str, modulo: int = CONTRACT_MODULO
) -> DataFrame:
    """Batch twin of PERCEPTUAL dedup-at-ingest — the image front door
    of the `streaming/ingest.py` family: an arriving media blob is
    dropped when its average-hash over REAL decoded pixels already
    appears in the known corpus's fingerprint set, so a resized or
    re-encoded copy of a picture the corpus already holds never lands
    (exact-byte `media_dedup` admits those). Roles on the
    constructed-duplicate corpus: arriving = odd k; known = even k in
    EVEN jdx groups only — so even-jdx arrivals are rejected (their
    picture is known at other dims/codecs) and odd-jdx arrivals are
    admitted (never-seen pictures), exercising both branches at every
    SF. Within-stream duplicates are admitted here and collapse in the
    downstream `media_phash_dup_pairs` / representative-election stage
    — the same division of labor as the text front door.

    Scale shape: the known side reduces to DISTINCT 64-bit
    fingerprints (corpus-picture count, not blob count) and
    broadcasts; the arriving side never shuffles — the stream-static
    anti-join shape that is append-mode-safe on an unbounded stream
    (the streaming twin decodes arrivals per microbatch, stateless).
    Both batch roles FILTER the persisted full-corpus `media_phash`
    table — the role predicates are doc_id arithmetic, so neither
    role pays its own decode pass; the corpus is decoded once for
    this whole query family (r12 plan fix: the two per-role decode
    chains cost 2.18 s/query at sf0.1 where the shared-table filters
    are cache scans). Emits (doc_id, codec, phash) survivors."""
    ph = media_phash(spark, sf_dir, modulo)
    k = _dup_k(modulo)
    jdx = F.expr(f"(doc_id div {modulo}) div {PHASH_DUP_GROUP}")
    known = (
        ph.filter((k % 2 == 0) & (jdx % 2 == 0)).select("phash").distinct()
    )
    arrived = ph.filter(k % 2 == 1)
    return arrived.join(F.broadcast(known), "phash", "left_anti").select(
        "doc_id", "codec", "phash"
    )


def media_ingest_dedup_oracle(modulo: int = CONTRACT_MODULO) -> str:
    """Both roles re-derived from the shared fingerprint CTE — the
    known set, the arriving set, and the anti-join all in SQL, so the
    Spark side's real decode of BOTH roles is value-pinned."""
    return f"""
WITH {_phash_sql_ctes(modulo)},
hc AS (
  SELECT h.doc_id, h.phash, m.k,
         CASE WHEN m.k % 2 = 0 THEN 'png' ELSE 'jpeg' END AS codec
  FROM h JOIN m USING (doc_id)
),
known AS (
  SELECT DISTINCT phash FROM hc
  WHERE k % 2 = 0 AND (k // {PHASH_DUP_GROUP}) % 2 = 0
)
SELECT doc_id, codec, phash FROM hc
WHERE k % 2 = 1 AND phash NOT IN (SELECT phash FROM known)
"""


# ---------------------------------------------------------------------------
# Perceptual NEAR-duplicate pairs (Hamming <= t, banded) — r12
# ---------------------------------------------------------------------------

# 4 x 16-bit prefix bands over the 64-bit average-hash: pigeonhole-
# complete for Hamming <= 3 (a pair differing in <= 3 bits differs in
# <= 3 bands, so it agrees exactly on at least one).
PHASH_NEAR_BANDS = 4
PHASH_NEAR_BAND_BITS = 16
PHASH_NEAR_MAX_HAMMING = PHASH_NEAR_BANDS - 1
# member t of each 4-index near-dup group complements the cells in
# PHASH_NEAR_FLIP_SETS[t]; pairwise Hamming inside a group is the
# symmetric-difference size: (m0,m1)=1; (m0,m2)=3 with the three flips
# in three DIFFERENT bands, so the pair agrees on exactly ONE band —
# the pigeonhole boundary; (m1,m2)=2 (both flip cell 0, so they agree
# on band 0 too). m3 flips two cells in EVERY band: it shares no band
# value with any sibling and is excluded by the banding itself, never
# reaching the Hamming verify — both exclusion paths are exercised.
PHASH_NEAR_FLIP_SETS = (
    frozenset(),
    frozenset({0}),
    frozenset({0, 16, 32}),
    frozenset({1, 8, 17, 24, 33, 40, 49, 56}),
)


def _near_dup_expected_bits(k: int) -> list[int]:
    """Member k's 64-bit pattern in the near-twin corpus: the group
    base (`_phash_expected_bits` of jdx = k/4) with the cells in
    PHASH_NEAR_FLIP_SETS[k%4] complemented — pure doc_id arithmetic,
    which is what lets DuckDB re-derive the expected pair set."""
    base = _phash_expected_bits(k // PHASH_DUP_GROUP)
    flips = PHASH_NEAR_FLIP_SETS[k % PHASH_DUP_GROUP]
    return [1 - b if i in flips else b for i, b in enumerate(base)]


def synthetic_near_dup_media(
    spark: SparkSession,
    sf_dir: str,
    modulo: int = CONTRACT_MODULO,
    docs: DataFrame | None = None,
) -> DataFrame:
    """Generative corpus of CONSTRUCTED perceptual NEAR-twins on the
    residue-(3*modulo/4) docs (disjoint from the three sibling media
    corpora): every 4 consecutive k = doc_id/modulo indices render the
    same base 8x8 bit grid (jdx = k/4 picks it, the
    `synthetic_dup_media` formula) with member t = k%4 complementing
    the cells in PHASH_NEAR_FLIP_SETS[t] — a crop/watermark/
    brightness-edit stand-in that moves the average-hash by exactly
    the flip-set size, so identical-hash dedup misses the pair but
    Hamming<=3 banding must find it (see the flip-set comment for the
    per-pair distances and which banding path each pair exercises). Dims ((k%8+1)*8 x ((k/8)%4+1)*8) and codec (PNG when
    (k%4 + k/8) is even, baseline JPEG otherwise — parity from a
    coordinate independent of the member index AND of each dim, per
    the residue-pinning discipline) vary per member so the pair search
    also spans the resample and both decoders. Flipping <= 8 of 64
    cells keeps the ones-count in [24, 40]: the global mean stays
    >= 95 grey levels from both cell values, so the threshold remains
    bit-stable under JPEG +/-1 DCT rounding (same margin argument as
    `synthetic_dup_media`). Deterministic in doc_id alone."""
    import pandas as pd

    d = _spread_gen_input(
        spark,
        sf_dir,
        (tables.load_table(spark, sf_dir, "documents") if docs is None else docs)
        .filter(F.col("doc_id") % modulo == 3 * modulo // 4)
        .select("doc_id"),
        batch=docs is None,
    )

    def gen(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..functions import jpeg as _jpegmod
        from ..functions import png as _pngmod

        for pdf in batches:
            metas, blobs = [], []
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                k = doc_id // modulo
                w = (k % 8 + 1) * 8
                h = ((k // 8) % 4 + 1) * 8
                bits = _near_dup_expected_bits(k)
                rows = [
                    [255 * bits[(r * 8 // h) * 8 + (c * 8 // w)] for c in range(w)]
                    for r in range(h)
                ]
                encode = (
                    _pngmod.encode_png_gray
                    if (k % PHASH_DUP_GROUP + k // 8) % 2 == 0
                    else _jpegmod.encode_jpeg_gray
                )
                blobs.append(encode(rows))
                metas.append({"width": w, "height": h, "duration_ms": None})
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": ["image"] * len(blobs),
                    "content": blobs,
                    "meta": metas,
                }
            )

    return d.mapInPandas(gen, MEDIA_SCHEMA)


def _phash_near_bands(
    spark: SparkSession, sf_dir: str, modulo: int = CONTRACT_MODULO
) -> DataFrame:
    """(doc_id, phash, band, val): the 4-way 16-bit prefix-band unpivot
    of the near-twin corpus's REAL-decode average-hash table — shared
    by the banded pair join and the dropped-buckets report (the
    `_simhash_bands` pattern). The hash table is persisted: the band
    self-join references this subtree on BOTH sides and Catalyst never
    shares a subtree across a self-join — without the cache the
    synthesize+decode mapInPandas chain runs once per side."""
    from ..functions.caching import persist_if

    ph = media_phash(
        spark, sf_dir, modulo, media_df=synthetic_near_dup_media(spark, sf_dir, modulo)
    ).select("doc_id", "phash")
    ph = persist_if(ph, modulo == CONTRACT_MODULO)
    return ph.select(
        "doc_id",
        "phash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(j).alias("band"),
                    F.substring(
                        "phash", 1 + j * PHASH_NEAR_BAND_BITS, PHASH_NEAR_BAND_BITS
                    ).alias("val"),
                )
                for j in range(PHASH_NEAR_BANDS)
            ])
        ).alias("b"),
    ).select("doc_id", "phash", F.col("b.band").alias("band"), F.col("b.val").alias("val"))


def _bits_hamming(a: F.Column, b: F.Column) -> F.Column:
    """Hamming distance between two 64-char '0'/'1' fingerprints,
    JVM-side: each 16-char band parses through conv(_, 2, 10) (16 bits
    never overflow a long), XORs, and bit_counts — whole-stage-codegen
    arithmetic, no UDF. DuckDB's side uses its hamming() text function
    on the same strings; both count differing bit positions."""
    total = F.lit(0).cast("long")
    for j in range(PHASH_NEAR_BANDS):
        av = F.conv(
            F.substring(a, 1 + j * PHASH_NEAR_BAND_BITS, PHASH_NEAR_BAND_BITS), 2, 10
        ).cast("long")
        bv = F.conv(
            F.substring(b, 1 + j * PHASH_NEAR_BAND_BITS, PHASH_NEAR_BAND_BITS), 2, 10
        ).cast("long")
        total = total + F.bit_count(av.bitwiseXOR(bv)).cast("long")
    return total


def media_phash_near_dup_pairs(
    spark: SparkSession,
    sf_dir: str,
    modulo: int = CONTRACT_MODULO,
    max_hamming: int = PHASH_NEAR_MAX_HAMMING,
    band_cap: int = PHASH_BUCKET_CAP,
) -> DataFrame:
    """Perceptual NEAR-duplicate pairs: images whose average-hashes
    differ in <= max_hamming of 64 bits — the crops, brightness
    shifts, and watermarks that flip a few threshold cells and escape
    the identical-hash path (`media_phash_dup_pairs` is the t=0 fast
    path; this is the production dedup the 100 TB mandate implies).
    Mechanics are `simhash_banded_near_dups` applied to the image
    fingerprint: split the 64 bits into 4 prefix bands of 16; any pair
    within Hamming <= 3 agrees exactly on >= 1 band (pigeonhole), so a
    plain equi-join on (band, val) finds every such pair and the pair
    space never materializes beyond band collisions; one exact
    per-candidate Hamming verify (codegen'd conv/xor/bit_count — no
    UDF) filters false candidates. Band buckets above band_cap are
    dropped (duplicate-saturated crawls collapse into few hot
    patterns; those classes belong to clustering, not pairwise
    listing) — cap mirrored exactly in the oracle,
    `media_phash_dropped_bands` reports what it dropped.

    Scale shape: one persisted synthesize+decode pass feeds both join
    sides; the band unpivot is a plan-constant 4x explode; the window
    cap partitions on the join key so it adds zero exchanges; shuffle
    volume is ~24 B/row per side. Emits (doc_a, doc_b, hamming)."""
    bands = _phash_near_bands(spark, sf_dir, modulo)
    wb = Window.partitionBy("band", "val")
    kept = (
        bands.withColumn("bucket_n", F.count(F.lit(1)).over(wb))
        .filter(F.col("bucket_n") <= band_cap)
        .drop("bucket_n")
    )
    a = kept.select(
        "band", "val", F.col("doc_id").alias("doc_a"), F.col("phash").alias("fp_a")
    )
    b = kept.select(
        "band", "val", F.col("doc_id").alias("doc_b"), F.col("phash").alias("fp_b")
    )
    pairs = (
        a.join(b, ["band", "val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        # a pair colliding in k bands appears k times; fp is
        # functionally dependent on doc_id, so distinct over all four
        # columns dedups to one row per pair
        .select("doc_a", "doc_b", "fp_a", "fp_b")
        .distinct()
    )
    return (
        pairs.withColumn("hamming", _bits_hamming(F.col("fp_a"), F.col("fp_b")))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def _phash_near_sql_ctes(modulo: int) -> str:
    """The near-twin corpus's per-doc hash derivation (m -> bits -> h),
    shared by the pair oracle, the dropped-buckets oracle, and any
    future consumer — ONE definition of the flip formula (the SQL flip
    predicate is GENERATED from PHASH_NEAR_FLIP_SETS, so the two
    engines cannot drift). Same HUGEINT mod-2^63 discipline as
    `_phash_sql_ctes`."""
    flip_cond = " OR ".join(
        f"(t = {m} AND i IN ({', '.join(str(i) for i in sorted(cells))}))"
        for m, cells in enumerate(PHASH_NEAR_FLIP_SETS)
        if cells
    )
    return f"""m AS (
  SELECT doc_id,
         doc_id // {modulo} AS k,
         CAST((CAST((doc_id // {modulo}) // {PHASH_DUP_GROUP} AS HUGEINT)
               * {_PHASH_MIX}) % 9223372036854775808 AS BIGINT) AS p,
         CAST((doc_id // {modulo}) % {PHASH_DUP_GROUP} AS INT) AS t
  FROM documents WHERE doc_id % {modulo} = {3 * modulo // 4}
),
bits AS (
  SELECT doc_id, i,
         CASE WHEN {flip_cond} THEN 1 - b0 ELSE b0 END AS b
  FROM (
    SELECT doc_id, t, i,
           CASE WHEN i % 2 = 0 THEN (p >> CAST(i AS INT)) & 1
                ELSE 1 - ((p >> CAST(i - 1 AS INT)) & 1) END AS b0
    FROM m, range(64) u(i)
  )
),
h AS (
  SELECT doc_id, string_agg(CAST(b AS VARCHAR), '' ORDER BY i) AS phash
  FROM bits GROUP BY doc_id
),
nbands AS (
  SELECT doc_id, phash, CAST(j AS INT) AS band,
         substring(phash, 1 + CAST(j AS INT) * {PHASH_NEAR_BAND_BITS},
                   {PHASH_NEAR_BAND_BITS}) AS val
  FROM h, range({PHASH_NEAR_BANDS}) u(j)
)"""


def media_phash_near_dup_pairs_oracle(
    modulo: int = CONTRACT_MODULO,
    max_hamming: int = PHASH_NEAR_MAX_HAMMING,
    band_cap: int = PHASH_BUCKET_CAP,
) -> str:
    """The full banding discipline re-derived in SQL — band unpivot,
    bucket cap, equi-join, exact Hamming verify (DuckDB's hamming()
    text function vs Spark's conv/xor/bit_count: both count differing
    positions) — so the semantics 'pairs within Hamming <= t agreeing
    on >= 1 uncapped band' are mirrored exactly, cap included."""
    return f"""
WITH {_phash_near_sql_ctes(modulo)},
bcnt AS (SELECT band, val, count(*) AS n FROM nbands GROUP BY 1, 2),
kept AS (
  SELECT b.* FROM nbands b JOIN bcnt USING (band, val) WHERE bcnt.n <= {band_cap}
),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.phash AS fa, b.phash AS fb
  FROM kept a JOIN kept b
    ON a.band = b.band AND a.val = b.val AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(hamming(fa, fb) AS BIGINT) AS hamming
FROM pairs WHERE hamming(fa, fb) <= {max_hamming}
"""


def media_phash_dropped_bands(
    spark: SparkSession,
    sf_dir: str,
    modulo: int = CONTRACT_MODULO,
    band_cap: int = PHASH_BUCKET_CAP,
) -> DataFrame:
    """Observability for the perceptual band cap (template:
    `simhash_dropped_bands`): how many (band, val) buckets the cap
    drops, the total bucket count, and the widest bucket seen. A large
    dropped fraction means the image corpus is duplicate-saturated and
    identical-hash clustering should run BEFORE pairwise near-dup
    discovery. One narrow aggregation over the shared band unpivot —
    the persisted decode pass is reused, the report costs one shuffle
    of (band, val) keys."""
    b = (
        _phash_near_bands(spark, sf_dir, modulo)
        .groupBy("band", "val")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return b.agg(
        F.sum((F.col("n") > band_cap).cast("long")).alias("n_dropped"),
        F.count(F.lit(1)).alias("n_buckets"),
        F.max("n").alias("max_bucket"),
    )


def media_phash_dropped_bands_oracle(
    modulo: int = CONTRACT_MODULO, band_cap: int = PHASH_BUCKET_CAP
) -> str:
    return f"""
WITH {_phash_near_sql_ctes(modulo)},
bcnt AS (SELECT band, val, count(*) AS n FROM nbands GROUP BY 1, 2)
SELECT CAST(sum(CASE WHEN n > {band_cap} THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       CAST(count(*) AS BIGINT) AS n_buckets,
       CAST(max(n) AS BIGINT) AS max_bucket
FROM bcnt
"""


def media_ingest_near_dedup(
    spark: SparkSession, sf_dir: str, modulo: int = CONTRACT_MODULO
) -> DataFrame:
    """NEAR-dup rejection at the image front door: an arriving blob is
    dropped when ANY of its four 16-bit fingerprint bands already
    appears in the known corpus's band set — the perceptual sibling of
    the text `ingest_near_dedup` (band membership, no verify: the same
    documented over-approximation, where a random band collision costs
    one false rejection, never an admitted duplicate), and the
    near-dup escalation of `media_ingest_dedup` (which only stops
    IDENTICAL fingerprints — a crop or brightness edit walks straight
    through it). Roles on the near-twin corpus: known = each group's
    base member (t=0), arriving = the three edited members — m1/m2
    (Hamming 1/3 from base) share a band and are rejected, m3 (two
    flips in every band) shares none and is admitted.

    Scale shape: both roles filter ONE persisted decode+band subtree
    (shared with the pair queries); the known side reduces to DISTINCT
    (band, val) keys — 4 short rows per corpus picture — and
    broadcasts; the probe is a broadcast semi-join + anti-join, the
    arriving side never shuffles. Emits (doc_id, phash) survivors."""
    bands = _phash_near_bands(spark, sf_dir, modulo)
    t = F.expr(f"(doc_id div {modulo}) % {PHASH_DUP_GROUP}")
    known = bands.filter(t == 0).select("band", "val").distinct()
    arriving = bands.filter(t != 0)
    collided = (
        arriving.join(F.broadcast(known), ["band", "val"])
        .select("doc_id")
        .distinct()
    )
    return (
        arriving.select("doc_id", "phash")
        .distinct()
        .join(collided, "doc_id", "left_anti")
    )


def media_ingest_near_dedup_oracle(modulo: int = CONTRACT_MODULO) -> str:
    """Both roles, the band sets, and the membership probe re-derived
    from the shared near-corpus CTE — the Spark side's real decode of
    both roles is value-pinned, collisions and all."""
    return f"""
WITH {_phash_near_sql_ctes(modulo)},
known AS (
  SELECT DISTINCT band, val FROM nbands
  WHERE (doc_id // {modulo}) % {PHASH_DUP_GROUP} = 0
),
collided AS (
  SELECT DISTINCT b.doc_id FROM nbands b JOIN known k USING (band, val)
  WHERE (b.doc_id // {modulo}) % {PHASH_DUP_GROUP} <> 0
)
SELECT DISTINCT doc_id, phash FROM nbands
WHERE (doc_id // {modulo}) % {PHASH_DUP_GROUP} <> 0
  AND doc_id NOT IN (SELECT doc_id FROM collided)
"""


# ---------------------------------------------------------------------------
# Media ingest decision ledger — r12
# ---------------------------------------------------------------------------

_LEDGER_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("codec", T.StringType(), False),
        T.StructField("digest", T.StringType(), False),
        T.StructField("phash", T.StringType(), False),
    ]
)


def media_ingest_decision_report(
    spark: SparkSession,
    sf_dir: str,
    modulo: int = CONTRACT_MODULO,
    docs: DataFrame | None = None,
) -> DataFrame:
    """The image front door's admission ledger — the observability twin
    `media_ingest_dedup` lacks (it emits survivors only): one row per
    ARRIVING blob with its verdict, `exact_dup` (byte digest already in
    the corpus) > `perceptual_dup` (average-hash already known) >
    `accepted`, the same precedence and audit-trail role as the text
    front door's `ingest_decision_report`. Roles are the ingest
    corpus's: arriving = odd k, known = even k in even jdx groups.

    Scale shape: arriving features (digest + fingerprint) come from ONE
    stateless synthesize/decode mapInPandas pass; the known digest set
    is codegen'd md5 over the known blobs (no decode — digests need
    bytes, not pixels) and the known fingerprint set filters the
    persisted full-corpus `media_phash` table (decode shared with its
    three sibling queries); both known sets reduce to DISTINCT keys and
    broadcast, so the two probes are broadcast left joins — the
    stream-static, append-mode-safe shape of the text ledger; `docs`
    lets `streaming/ingest.stream_media_ingest_decision_report` feed
    the arriving side from an unbounded stream (every arriving-side
    stage is stateless). Emits
    (doc_id, codec, is_exact_dup, is_perceptual_dup, verdict)."""
    import pandas as pd

    k = _dup_k(modulo)
    jdx = F.expr(f"(doc_id div {modulo}) div {PHASH_DUP_GROUP}")
    corpus = synthetic_dup_media(spark, sf_dir, modulo)
    arriving = synthetic_dup_media(spark, sf_dir, modulo, docs=docs).filter(
        k % 2 == 1
    ) if docs is not None else corpus.filter(k % 2 == 1)

    def feats(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        backend = _try_real_decoder()
        for pdf in batches:
            out = {c: [] for c in ("doc_id", "codec", "digest", "phash")}
            for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
                content = bytes(content)
                rows = _decode_luminance(backend, content)
                if rows is None:
                    dig = hashlib.md5(content).digest()
                    bits = "".join(format(b, "08b") for b in dig[:8])
                else:
                    bits = _ahash64(rows)
                out["doc_id"].append(doc_id)
                out["codec"].append(_sniff_format(content))
                out["digest"].append(hashlib.md5(content).hexdigest())
                out["phash"].append(bits)
            yield pd.DataFrame(out)

    arr = arriving.mapInPandas(feats, _LEDGER_SCHEMA)
    known_digests = (
        corpus.filter((k % 2 == 0) & (jdx % 2 == 0))
        .select(F.md5("content").alias("digest"))
        .distinct()
        .withColumn("d_hit", F.lit(1))
    )
    known_phashes = (
        media_phash(spark, sf_dir, modulo)
        .filter((k % 2 == 0) & (jdx % 2 == 0))
        .select("phash")
        .distinct()
        .withColumn("p_hit", F.lit(1))
    )
    return (
        arr.join(F.broadcast(known_digests), "digest", "left")
        .join(F.broadcast(known_phashes), "phash", "left")
        .select(
            "doc_id",
            "codec",
            F.col("d_hit").isNotNull().alias("is_exact_dup"),
            F.col("p_hit").isNotNull().alias("is_perceptual_dup"),
            F.when(F.col("d_hit").isNotNull(), F.lit("exact_dup"))
            .when(F.col("p_hit").isNotNull(), F.lit("perceptual_dup"))
            .otherwise(F.lit("accepted"))
            .alias("verdict"),
        )
    )


def media_ingest_decision_report_oracle(modulo: int = CONTRACT_MODULO) -> str:
    """Codec and fingerprint verdicts re-derived from the shared hash
    CTE; the known fingerprint set comes from the data (not closed
    form), so partial tail groups are handled. is_exact_dup is pinned
    FALSE by construction — arriving blobs are JPEG (odd k), known
    blobs PNG (even k), so byte digests can never collide; the Spark
    side still runs a REAL digest probe, and any false match reds the
    hash."""
    return f"""
WITH {_phash_sql_ctes(modulo)},
hc AS (
  SELECT h.doc_id, h.phash, m.k,
         CASE WHEN m.k % 2 = 0 THEN 'png' ELSE 'jpeg' END AS codec
  FROM h JOIN m USING (doc_id)
),
known AS (
  SELECT DISTINCT phash FROM hc
  WHERE k % 2 = 0 AND (k // {PHASH_DUP_GROUP}) % 2 = 0
)
SELECT doc_id, codec,
       FALSE AS is_exact_dup,
       phash IN (SELECT phash FROM known) AS is_perceptual_dup,
       CASE WHEN phash IN (SELECT phash FROM known)
            THEN 'perceptual_dup' ELSE 'accepted' END AS verdict
FROM hc WHERE k % 2 = 1
"""


# ---------------------------------------------------------------------------
# Audio: REAL RIFF/WAVE PCM16 decode (vendored codec) — r12
# ---------------------------------------------------------------------------

AUDIO_RATE = 8000
AUDIO_FRAME = 160  # samples per 20 ms analysis frame at 8 kHz


def synthetic_audio_media(
    spark: SparkSession,
    sf_dir: str,
    modulo: int = CONTRACT_MODULO,
    docs: DataFrame | None = None,
) -> DataFrame:
    """Generative audio corpus on the residue-(modulo/8) docs (disjoint
    from the four image corpora): doc k = doc_id/modulo carries a mono
    PCM16 square wave — (k%5+1) full 160-sample frames at 8 kHz,
    amplitude (k%7+1)*4000, half-period (k%4+1) samples — encoded
    through the vendored RIFF/WAVE writer (`functions/wav.py`). Every
    acoustic feature of the blob (sample count, peak, energy, zero
    crossings) is pure doc_id arithmetic, which is what lets DuckDB
    value-pin the real decode end-to-end, the `synthetic_dup_media`
    evidence pattern extended to a third modality. `docs` admits a
    streaming doc_id source (the generator is a stateless
    mapInPandas)."""
    import pandas as pd

    d = _spread_gen_input(
        spark,
        sf_dir,
        (tables.load_table(spark, sf_dir, "documents") if docs is None else docs)
        .filter(F.col("doc_id") % modulo == modulo // 8)
        .select("doc_id"),
        batch=docs is None,
    )

    def gen(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from ..functions import wav as _wavmod

        for pdf in batches:
            metas, blobs = [], []
            for doc_id in pdf["doc_id"]:
                k = int(doc_id) // modulo
                n = (k % 5 + 1) * AUDIO_FRAME
                amp = (k % 7 + 1) * 4000
                half = k % 4 + 1
                # exact-integer square wave, vectorized (same values as
                # the old per-sample comprehension)
                samples = (
                    amp * (1 - 2 * ((np.arange(n) // half) % 2))
                ).tolist()
                blobs.append(_wavmod.encode_wav_pcm16(samples, AUDIO_RATE))
                metas.append(
                    {"width": None, "height": None, "duration_ms": n * 1000 // AUDIO_RATE}
                )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": ["audio"] * len(blobs),
                    "content": blobs,
                    "meta": metas,
                }
            )

    return d.mapInPandas(gen, MEDIA_SCHEMA)


AUDIO_SAMPLES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("sample_rate", T.IntegerType(), False),
        T.StructField("samples", T.ArrayType(T.IntegerType()), False),
        T.StructField("arm", T.StringType(), False),
    ]
)


def audio_samples(
    spark: SparkSession,
    sf_dir: str,
    modulo: int = CONTRACT_MODULO,
    media_df: DataFrame | None = None,
) -> DataFrame:
    """The audio decode boundary: one Arrow-batched mapInPandas pass
    through the vendored WAV reader, emitting each blob's PCM as an
    array<int> column — the LAST Python stage in the audio family;
    every downstream feature (`audio_features`, `audio_frame_energy`)
    is Catalyst higher-order functions over this array, the
    decode-once-analyze-in-JVM split the multimodal guide prescribes.
    Undecodable blobs take arm='stub' with empty samples (pytest
    negative arm; the strict codec refuses rather than mis-decodes).
    Persisted at default args for its two registry consumers.

    Scale shape: column-pruned documents scan -> stateless synthesize
    -> stateless decode; per-row partition-local work, zero shuffles,
    zero driver collection."""
    import pandas as pd

    from ..functions.caching import persist_if

    invariant = media_df is None and modulo == CONTRACT_MODULO
    corpus = (
        synthetic_audio_media(spark, sf_dir, modulo) if media_df is None else media_df
    )

    def run(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..functions import wav as _wavmod

        for pdf in batches:
            out = {c: [] for c in ("doc_id", "sample_rate", "samples", "arm")}
            for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
                try:
                    rate, samples = _wavmod.decode_wav_pcm16(bytes(content))
                    arm = "real"
                except ValueError:
                    rate, samples, arm = 0, [], "stub"
                out["doc_id"].append(doc_id)
                out["sample_rate"].append(rate)
                out["samples"].append(samples)
                out["arm"].append(arm)
            yield pd.DataFrame(out)

    return persist_if(corpus.mapInPandas(run, AUDIO_SAMPLES_SCHEMA), invariant)


def audio_features(
    spark: SparkSession,
    sf_dir: str,
    modulo: int = CONTRACT_MODULO,
    media_df: DataFrame | None = None,
) -> DataFrame:
    """Per-blob acoustic profile over REAL decoded PCM: sample count,
    duration, peak amplitude, total energy (sum of squares), and zero
    crossings — the triage columns an audio-corpus build keys its
    filtering on (silence, clipping, duration buckets). Everything
    after the decode is whole-stage-codegen HOF arithmetic
    (size/array_max/aggregate/filter over the samples array — no
    second Python stage), and on the constructed square-wave corpus
    every value is doc_id arithmetic, so DuckDB value-pins the whole
    decode+HOF chain per row. `media_df` feeds the decode from a
    caller-supplied (possibly streaming) blob source — every stage is
    stateless, so the identical plan runs append-mode on a stream
    (`streaming/ingest.stream_audio_features`)."""
    s = audio_samples(spark, sf_dir, modulo, media_df=media_df)
    n = F.size("samples")
    return s.select(
        "doc_id",
        "sample_rate",
        n.alias("n_samples"),
        # guarded: the stub arm carries sample_rate=0 and ANSI `div`
        # would throw DIVIDE_BY_ZERO, crashing the job the stub arm
        # exists to survive (self-review r12; the Spark-side face of
        # the r9 ANSI-division trap)
        F.expr(
            "CAST(CASE WHEN sample_rate = 0 THEN 0 "
            "ELSE size(samples) * 1000 div sample_rate END AS INT)"
        ).alias("duration_ms"),
        F.array_max(F.transform("samples", lambda x: F.abs(x))).alias("peak"),
        F.aggregate(
            "samples",
            F.lit(0).cast("long"),
            lambda acc, x: acc + x.cast("long") * x.cast("long"),
        ).alias("sum_sq"),
        F.when(n >= 2,
            F.size(
                F.filter(
                    F.sequence(F.lit(1), n - 1),
                    lambda i: (F.element_at("samples", i + 1) >= 0)
                    != (F.element_at("samples", i) >= 0),
                )
            ),
        ).otherwise(F.lit(0)).cast("int").alias("zero_crossings"),
        "arm",
    )


def audio_features_oracle(modulo: int = CONTRACT_MODULO) -> str:
    """Closed-form re-derivation from the k lattice — if the codec, the
    chunk walk, or any HOF drifts on any row, that row's integers
    change and the value hash reds."""
    return f"""
WITH m AS (
  SELECT doc_id, doc_id // {modulo} AS k
  FROM documents WHERE doc_id % {modulo} = {modulo // 8}
)
SELECT doc_id,
       CAST({AUDIO_RATE} AS INT) AS sample_rate,
       CAST((k % 5 + 1) * {AUDIO_FRAME} AS INT) AS n_samples,
       CAST((k % 5 + 1) * {AUDIO_FRAME} * 1000 // {AUDIO_RATE} AS INT) AS duration_ms,
       CAST((k % 7 + 1) * 4000 AS INT) AS peak,
       CAST((k % 5 + 1) * {AUDIO_FRAME} AS BIGINT)
         * ((k % 7 + 1) * 4000) * ((k % 7 + 1) * 4000) AS sum_sq,
       CAST(((k % 5 + 1) * {AUDIO_FRAME} - 1) // (k % 4 + 1) AS INT) AS zero_crossings,
       'real' AS arm
FROM m
"""


def audio_frame_energy(
    spark: SparkSession,
    sf_dir: str,
    modulo: int = CONTRACT_MODULO,
    frame: int = AUDIO_FRAME,
) -> DataFrame:
    """Windowed energy over the decoded PCM: one row per 20 ms frame
    with its sum of squares — the framing primitive under VAD, silence
    trimming, and loudness normalization. The frame slice/aggregate is
    pure Catalyst (posexplode of a frame-index sequence + aggregate
    over slice): the persisted decode pass is shared with
    `audio_features`, and the explode multiplies rows by the bounded
    per-blob frame count, never shuffles. Emits
    (doc_id, frame, frame_sum_sq)."""
    s = audio_samples(spark, sf_dir, modulo)
    nframes = (F.size("samples") / frame).cast("int")
    return (
        s.filter(F.size("samples") >= frame)
        .select(
            "doc_id",
            "samples",
            F.posexplode(F.sequence(F.lit(0), nframes - 1)).alias("_p", "frame"),
        )
        .select(
            "doc_id",
            F.col("frame").cast("int").alias("frame"),
            F.aggregate(
                F.slice("samples", F.col("frame") * frame + 1, frame),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x.cast("long") * x.cast("long"),
            ).alias("frame_sum_sq"),
        )
    )


def audio_frame_energy_oracle(
    modulo: int = CONTRACT_MODULO, frame: int = AUDIO_FRAME
) -> str:
    """Frames re-derived by range(): the corpus pads every blob to
    whole frames ((k%5+1) exactly), each frame's energy is
    frame * amp^2 (|sample| == amp everywhere on a square wave)."""
    return f"""
WITH m AS (
  SELECT doc_id, doc_id // {modulo} AS k
  FROM documents WHERE doc_id % {modulo} = {modulo // 8}
)
SELECT doc_id,
       CAST(f AS INT) AS frame,
       CAST({frame} AS BIGINT) * ((k % 7 + 1) * 4000) * ((k % 7 + 1) * 4000)
         AS frame_sum_sq
FROM m, unnest(range(0, (k % 5 + 1))) AS u(f)
"""


def audio_sign_fingerprint(
    spark: SparkSession,
    sf_dir: str,
    modulo: int = CONTRACT_MODULO,
    media_df: DataFrame | None = None,
) -> DataFrame:
    """Loudness-invariant audio fingerprint: the portable 60-bit hash
    (`functions/hashing.h60` — md5 prefix, bit-identical across
    engines) of the decoded PCM's SIGN sequence (1 char per sample,
    '1' for >= 0) — two recordings of the same waveform at different
    gains collide, which is the duplicate class byte dedup is deaf to
    (the audio analog of `media_phash` vs `media_dedup`). On the
    square-wave corpus the sign sequence is determined by (n_samples,
    half-period) alone — amplitude drops out — so the expected
    collision classes are pure doc_id arithmetic and DuckDB value-pins
    the decode+sign+hash chain per row. Pure Catalyst after the shared
    decode pass: transform + array_join + md5 arithmetic, no extra
    Python stage. Emits (doc_id, fingerprint)."""
    from ..functions import hashing as H

    s = audio_samples(spark, sf_dir, modulo, media_df=media_df)
    sign_str = "array_join(transform(samples, x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), '')"
    return s.selectExpr("doc_id", f"{H.h60_expr_sql(sign_str)} AS fingerprint")


def _audio_sign_sql(modulo: int) -> str:
    """Shared sign-fingerprint CTE: the sign string re-derived from the
    k lattice (sample i >= 0 iff (i // half) is even), hashed with the
    same portable h60 the Spark side uses."""
    from ..functions import hashing as H

    sign = f"""string_agg(
           CASE WHEN (i // (k % 4 + 1)) % 2 = 0 THEN '1' ELSE '0' END,
           '' ORDER BY i)"""
    return f"""af AS (
  SELECT doc_id, {H.h60_sql(sign)} AS fingerprint
  FROM (
    SELECT doc_id, doc_id // {modulo} AS k
    FROM documents WHERE doc_id % {modulo} = {modulo // 8}
  ), unnest(range(0, (k % 5 + 1) * {AUDIO_FRAME})) AS u(i)
  GROUP BY doc_id
)"""


def audio_dup_pairs(
    spark: SparkSession,
    sf_dir: str,
    modulo: int = CONTRACT_MODULO,
    bucket_cap: int = PHASH_BUCKET_CAP,
) -> DataFrame:
    """Loudness-invariant audio duplicate pairs: blobs whose sign
    fingerprints collide — the same waveform re-recorded at a
    different gain — via the hash-keyed self-join discipline every
    pair query in the repo carries (`media_phash_dup_pairs` /
    `lsh_candidate_pairs`): the shuffle key is the 64-bit fingerprint,
    buckets wider than bucket_cap are dropped (cap mirrored exactly in
    the oracle), and the pair space never materializes beyond actual
    collisions. On the square-wave corpus the collision classes are
    the (n_samples, half-period) lattice cells, so every expected pair
    is doc_id arithmetic. Emits (doc_a, doc_b, fingerprint)."""
    fp = audio_sign_fingerprint(spark, sf_dir, modulo)
    wb = Window.partitionBy("fingerprint")
    capped = (
        fp.withColumn("bucket_n", F.count(F.lit(1)).over(wb))
        .filter(F.col("bucket_n") <= bucket_cap)
        .drop("bucket_n")
    )
    left = capped.select("fingerprint", F.col("doc_id").alias("doc_a"))
    right = capped.select("fingerprint", F.col("doc_id").alias("doc_b"))
    return (
        left.join(right, "fingerprint")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "fingerprint")
    )


def audio_dup_pairs_oracle(
    modulo: int = CONTRACT_MODULO, bucket_cap: int = PHASH_BUCKET_CAP
) -> str:
    return f"""
WITH {_audio_sign_sql(modulo)},
bcnt AS (SELECT fingerprint, count(*) AS n FROM af GROUP BY 1),
capped AS (
  SELECT af.* FROM af JOIN bcnt USING (fingerprint) WHERE bcnt.n <= {bucket_cap}
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.fingerprint
FROM capped a JOIN capped b
  ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id
"""


def audio_ingest_dedup(
    spark: SparkSession, sf_dir: str, modulo: int = CONTRACT_MODULO
) -> DataFrame:
    """The AUDIO front door — loudness-invariant dedup-at-ingest: an
    arriving recording is dropped when its sign-sequence fingerprint
    already appears in the known corpus, so the same waveform
    re-recorded at a different gain never lands (a byte-level digest
    admits those — amplitude changes every PCM byte). The audio member
    of the front-door family, beside the text (`streaming/ingest.
    ingest_dedup`) and image (`media_ingest_dedup`) doors. Roles on the
    square-wave lattice,
    whose collision classes are the k%20 cells ((n_samples, half) has
    period lcm(5,4)); the classes are parity-pure (20 is even), so
    roles split WITHIN each parity: arriving = k%40 >= 20; known =
    k%40 < 20 with even k — an arriving even-k recording's class is
    known (rejected: same waveform previously seen at a different
    amplitude), an odd-k arrival's class is not (admitted), both
    branches at every SF.

    Scale shape: both roles FILTER the shared persisted decode
    (`audio_samples`) through the Catalyst sign-fingerprint expression
    — one decode pass for the whole audio family; the known side
    reduces to DISTINCT fingerprints and broadcasts; the arriving side
    anti-joins without shuffling — the stream-static append-mode-safe
    shape (`streaming/ingest.stream_audio_ingest_dedup` feeds the
    arriving side statelessly per microbatch). Emits
    (doc_id, fingerprint) survivors."""
    fp = audio_sign_fingerprint(spark, sf_dir, modulo)
    k = _dup_k(modulo)
    known = (
        fp.filter((k % 40 < 20) & (k % 2 == 0)).select("fingerprint").distinct()
    )
    arrived = fp.filter(k % 40 >= 20)
    return arrived.join(F.broadcast(known), "fingerprint", "left_anti").select(
        "doc_id", "fingerprint"
    )


def audio_ingest_dedup_oracle(modulo: int = CONTRACT_MODULO) -> str:
    """Both roles re-derived from the shared sign-fingerprint CTE —
    the known set, the arriving set, and the anti-join all in SQL, so
    the Spark side's real decode of BOTH roles is value-pinned; the
    known set comes from the data (not closed form), so partial tail
    lattices are handled."""
    return f"""
WITH {_audio_sign_sql(modulo)},
ak AS (
  SELECT af.doc_id, af.fingerprint, af.doc_id // {modulo} AS k FROM af
),
known AS (
  SELECT DISTINCT fingerprint FROM ak WHERE k % 40 < 20 AND k % 2 = 0
)
SELECT doc_id, fingerprint FROM ak
WHERE k % 40 >= 20 AND fingerprint NOT IN (SELECT fingerprint FROM known)
"""


def frame_sample_plan(spark: SparkSession, sf_dir: str, every_ms: int = 5000) -> DataFrame:
    """Video frame-sampling plan: explode each video into the frame
    timestamps a decoder would extract (the decode itself is the
    stubbed stage). Pure Catalyst — sequence + explode, no UDF."""
    m = media(spark, sf_dir).filter(F.col("media_type") == "video")
    offsets = F.sequence(F.lit(0), F.col("meta.duration_ms"), F.lit(every_ms))
    return m.select(
        "doc_id", F.explode(offsets).alias("frame_ms"), F.col("meta.duration_ms").alias("duration_ms")
    )

def frame_sample_plan_oracle(every_ms: int = 5000) -> str:
    """frame_sample is SQL-expressible — media metadata is arithmetic."""
    return f"""
WITH m AS (
  SELECT doc_id,
         ['image','audio','video'][CAST(doc_id % 3 AS INT) + 1] AS media_type,
         CASE WHEN doc_id % 3 <> 0 THEN CAST((doc_id % 30 + 1) * 1000 AS INT) END AS duration_ms
  FROM documents
)
SELECT doc_id, unnest(range(0, duration_ms + 1, {every_ms})) AS frame_ms, duration_ms
FROM m WHERE media_type = 'video'
"""

def media_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed-metadata rollup per modality — the sanity dashboard of a
    multimodal corpus (bytes, dimensions, durations), now with
    per-format decode-path counters (magic-bytes sniff): n_png and
    n_jpeg blobs take the real decoder (vendored pure-stdlib readers
    when PIL is absent); n_stub blobs take the deterministic stub. A corpus whose
    image rows report n_stub == n is visibly NOT producing real pixel
    features — the observability the format gate exists for. The
    sniff is a codegen'd hex-prefix compare on 8 bytes, added to the
    existing single aggregation pass."""
    m = media(spark, sf_dir)
    fmt = media_format_expr(F.col("content"))
    return m.groupBy("media_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.length("content")).alias("total_bytes"),
        F.round(F.avg("meta.width"), 6).alias("avg_width"),
        F.round(F.avg("meta.duration_ms"), 6).alias("avg_duration_ms"),
        F.sum((fmt == "png").cast("long")).alias("n_png"),
        F.sum((fmt == "jpeg").cast("long")).alias("n_jpeg"),
        F.sum((fmt == "other").cast("long")).alias("n_stub"),
    )

def media_inventory_oracle() -> str:
    return """
WITH m AS (
  SELECT doc_id,
         ['image','audio','video'][CAST(doc_id % 3 AS INT) + 1] AS media_type,
         encode(text) AS content,
         CAST((doc_id % 8 + 1) * 64 AS INT) AS width,
         CASE WHEN doc_id % 3 <> 0 THEN CAST((doc_id % 30 + 1) * 1000 AS INT) END AS duration_ms
  FROM documents
)
SELECT media_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(octet_length(content)) AS BIGINT) AS total_bytes,
       round(avg(width), 6) AS avg_width,
       round(avg(duration_ms), 6) AS avg_duration_ms,
       CAST(sum(CASE WHEN substr(hex(content), 1, 16) = '89504E470D0A1A0A'
                THEN 1 ELSE 0 END) AS BIGINT) AS n_png,
       CAST(sum(CASE WHEN substr(hex(content), 1, 16) <> '89504E470D0A1A0A'
                 AND substr(hex(content), 1, 6) = 'FFD8FF'
                THEN 1 ELSE 0 END) AS BIGINT) AS n_jpeg,
       CAST(sum(CASE WHEN substr(hex(content), 1, 16) <> '89504E470D0A1A0A'
                 AND substr(hex(content), 1, 6) <> 'FFD8FF'
                THEN 1 ELSE 0 END) AS BIGINT) AS n_stub
FROM m GROUP BY media_type
"""

# ---------------------------------------------------------------------------
# Exact media dedup (binary-content digest groups)
# ---------------------------------------------------------------------------

def media_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bytes-level dedup accounting over the binary media column — the
    multimodal twin of dedup_exact (operators/dedup.py). Image/audio
    corpora are where exact dedup pays most at 100 TB (the same
    thumbnail or jingle recurs millions of times), and a bytes digest
    needs no decode, so the whole operator is two cascaded hash
    aggregations: digest computed scan-side per row, one shuffle on
    (media_type, digest) with map-side combine, then a per-media_type
    rollup of the digest groups. Reporting the rollup (not just the
    duplicate groups) keeps the result non-degenerate on fixture scales
    where no blob repeats — n_unique == n_items is itself the finding.
    Emits (media_type, n_items, n_unique, n_dup_copies, bytes_total,
    bytes_reclaimed)."""
    m = media(spark, sf_dir)
    groups = (
        m.select(
            "media_type",
            F.md5("content").alias("digest"),
            F.length("content").alias("n_bytes"),
        )
        .groupBy("media_type", "digest")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("n_bytes").alias("blob_bytes"),
            F.sum("n_bytes").alias("group_bytes"),
        )
    )
    return groups.groupBy("media_type").agg(
        F.sum("n_copies").alias("n_items"),
        F.count(F.lit(1)).alias("n_unique"),
        (F.sum("n_copies") - F.count(F.lit(1))).alias("n_dup_copies"),
        F.sum("group_bytes").alias("bytes_total"),
        F.sum((F.col("n_copies") - 1) * F.col("blob_bytes")).alias("bytes_reclaimed"),
    )

def media_dedup_oracle() -> str:
    # media content is encode(text) — md5 over those bytes is md5(text)
    mt = "CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END"
    return f"""
WITH groups AS (
  SELECT {mt} AS media_type, md5(text) AS digest,
         count(*) AS n_copies,
         min(octet_length(encode(text))) AS blob_bytes,
         sum(octet_length(encode(text))) AS group_bytes
  FROM documents GROUP BY 1, 2
)
SELECT media_type,
       CAST(sum(n_copies) AS BIGINT) AS n_items,
       CAST(count(*) AS BIGINT) AS n_unique,
       CAST(sum(n_copies) - count(*) AS BIGINT) AS n_dup_copies,
       CAST(sum(group_bytes) AS BIGINT) AS bytes_total,
       CAST(sum((n_copies - 1) * blob_bytes) AS BIGINT) AS bytes_reclaimed
FROM groups GROUP BY 1
"""
