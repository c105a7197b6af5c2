"""Image metadata / statistics extraction as Arrow-vectorized pandas UDFs.

Re-expresses the reference's row-at-a-time Python UDFs
(`02_Data Ingest.py:137-204` get_image_metadata, `02_Data
Ingest.py:223-252` get_image_statistics) with the SAME declared output
schemas (`02_Data Ingest.py:191-199` and `02_Data Ingest.py:242-249`),
but batched over Arrow so the JVM⇄Python hop moves columnar buffers,
not pickled rows — the reference's dominant perf cost (SURVEY §4).

Decode backend (in priority order):
- With Pillow installed, images are decoded exactly as the reference
  does (PIL.Image + ImageStat; EXIF struct synthesized from
  PIL.ExifTags the way `02_Data Ingest.py:111-132` does).
- Without Pillow, PNG bytes get a REAL decode via the dependency-free
  codec in ``functions/png.py`` (zlib + filter reversal): metadata is
  header-parsed without pixel decode, and statistics are genuine
  per-band mean/median/stddev/extrema/entropy/histogram following
  PIL.ImageStat's definitions. JPEG bytes get REAL header metadata
  (SOF dimensions/bands), REAL EXIF (APP1/TIFF IFD parse), and — new
  in round 3 — REAL pixel statistics via the baseline entropy decoder
  in ``functions/jpeg.py`` (Huffman + dequant + IDCT) — baseline
  sequential AND, since round 4, progressive (SOF2: spectral
  selection + successive approximation), so every standard
  Huffman-coded JPEG decodes for real.
- Anything else falls back to a clearly-marked DETERMINISTIC FAKE
  decoder that derives pseudo pixel statistics from the raw bytes so
  the Spark-side plumbing (schemas, Arrow batches, struct columns,
  SQL registration) stays real and testable.

The EXIF schema is synthesized from PIL's tag tables when available and
falls back to a pinned snapshot of common tags otherwise, preserving
the schema-from-code pattern (SURVEY §1.3).
"""

from __future__ import annotations

import io
import math
import struct
import zlib
from collections import Counter
from collections.abc import Iterator

import numpy as np
import pandas as pd

from computer_vision_foundations_spark.functions import jpeg as _jpeg
from computer_vision_foundations_spark.functions import png as _png

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

try:  # optional dependency — the engine core needs only pyspark
    from PIL import ExifTags, Image, ImageStat  # type: ignore

    HAVE_PIL = True
except ImportError:  # pragma: no cover - container has no Pillow
    HAVE_PIL = False

# Pinned snapshot of EXIF tag names from the public EXIF 2.3 / TIFF 6.0
# tag tables, used when PIL is absent so the schema stays stable and
# matches the breadth of the reference's PIL-synthesized struct
# (`02_Data Ingest.py:111-132` iterates PIL.ExifTags.TAGS the same way).
_EXIF_TAGS_SNAPSHOT = [
    # TIFF/IFD0 baseline
    "ImageWidth", "ImageLength", "BitsPerSample", "Compression",
    "PhotometricInterpretation", "ImageDescription", "Make", "Model",
    "StripOffsets", "Orientation", "SamplesPerPixel", "RowsPerStrip",
    "StripByteCounts", "XResolution", "YResolution", "PlanarConfiguration",
    "ResolutionUnit", "TransferFunction", "Software", "DateTime",
    "Artist", "WhitePoint", "PrimaryChromaticities", "JpegIFOffset",
    "JpegIFByteCount", "YCbCrCoefficients", "YCbCrSubSampling",
    "YCbCrPositioning", "ReferenceBlackWhite", "Copyright",
    # Exif sub-IFD
    "ExposureTime", "FNumber", "ExposureProgram", "SpectralSensitivity",
    "ISOSpeedRatings", "OECF", "SensitivityType", "ExifVersion",
    "DateTimeOriginal", "DateTimeDigitized", "OffsetTime",
    "OffsetTimeOriginal", "OffsetTimeDigitized", "ComponentsConfiguration",
    "CompressedBitsPerPixel", "ShutterSpeedValue", "ApertureValue",
    "BrightnessValue", "ExposureBiasValue", "MaxApertureValue",
    "SubjectDistance", "MeteringMode", "LightSource", "Flash",
    "FocalLength", "SubjectArea", "MakerNote", "UserComment",
    "SubsecTime", "SubsecTimeOriginal", "SubsecTimeDigitized",
    "FlashPixVersion", "ColorSpace", "ExifImageWidth", "ExifImageHeight",
    "RelatedSoundFile", "FlashEnergy", "SpatialFrequencyResponse",
    "FocalPlaneXResolution", "FocalPlaneYResolution",
    "FocalPlaneResolutionUnit", "SubjectLocation", "ExposureIndex",
    "SensingMethod", "FileSource", "SceneType", "CFAPattern",
    "CustomRendered", "ExposureMode", "WhiteBalance", "DigitalZoomRatio",
    "FocalLengthIn35mmFilm", "SceneCaptureType", "GainControl",
    "Contrast", "Saturation", "Sharpness", "DeviceSettingDescription",
    "SubjectDistanceRange", "ImageUniqueID", "CameraOwnerName",
    "BodySerialNumber", "LensSpecification", "LensMake", "LensModel",
    "LensSerialNumber",
]
_GPS_TAGS_SNAPSHOT = [
    "GPSVersionID", "GPSLatitudeRef", "GPSLatitude", "GPSLongitudeRef",
    "GPSLongitude", "GPSAltitudeRef", "GPSAltitude", "GPSTimeStamp",
    "GPSSatellites", "GPSStatus", "GPSMeasureMode", "GPSDOP",
    "GPSSpeedRef", "GPSSpeed", "GPSTrackRef", "GPSTrack",
    "GPSImgDirectionRef", "GPSImgDirection", "GPSMapDatum",
    "GPSDestLatitudeRef", "GPSDestLatitude", "GPSDestLongitudeRef",
    "GPSDestLongitude", "GPSDestBearingRef", "GPSDestBearing",
    "GPSDestDistanceRef", "GPSDestDistance", "GPSProcessingMethod",
    "GPSAreaInformation", "GPSDateStamp", "GPSDifferential",
    "GPSHPositioningError",
]


def exif_struct_type() -> T.StructType:
    """EXIF schema synthesized from PIL's tag tables (or the snapshot).

    Mirrors the generation loop at `02_Data Ingest.py:111-132`: every
    tag is a string field; GPSInfo becomes a nested struct of GPS tag
    strings; duplicate tag names are kept once.
    """
    if HAVE_PIL:
        names: list[str] = []
        gps_names: list[str] = []
        for t in ExifTags.TAGS:
            name = ExifTags.TAGS[t]
            if name == "GPSInfo":
                for g in ExifTags.GPSTAGS:
                    if ExifTags.GPSTAGS[g] not in gps_names:
                        gps_names.append(ExifTags.GPSTAGS[g])
            elif name not in names:
                names.append(name)
    else:
        names = list(_EXIF_TAGS_SNAPSHOT)
        gps_names = list(_GPS_TAGS_SNAPSHOT)
    fields = [T.StructField(n, T.StringType()) for n in names]
    fields.append(
        T.StructField(
            "GPSInfo", T.StructType([T.StructField(g, T.StringType()) for g in gps_names])
        )
    )
    return T.StructType(fields)


EXIF_SCHEMA = exif_struct_type()

# Schemas identical to the reference's declarations.
METADATA_SCHEMA = T.StructType(
    [
        T.StructField("height", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("dpi", T.ArrayType(T.IntegerType())),
        T.StructField("layers", T.IntegerType()),
        T.StructField("mode", T.StringType()),
        T.StructField("format", T.StringType()),
        T.StructField("exif", EXIF_SCHEMA),
    ]
)

STATISTICS_SCHEMA = T.StructType(
    [
        T.StructField("mean", T.ArrayType(T.DoubleType())),
        T.StructField("median", T.ArrayType(T.IntegerType())),
        T.StructField("stddev", T.ArrayType(T.DoubleType())),
        T.StructField("extrema", T.ArrayType(T.ArrayType(T.IntegerType()))),
        T.StructField("entropy", T.DoubleType()),
        T.StructField("histogram", T.ArrayType(T.IntegerType())),
    ]
)


def _fake_pixels(content: bytes, n: int = 256) -> list[int]:
    """DETERMINISTIC FAKE decode: first n bytes as a 1-band pixel strip.

    Stands in for JPEG decoding when Pillow is unavailable; replace
    with a real decoder in production. NOT an image decoder.
    """
    if not content:
        return [0]
    return list(content[:n])


def _metadata_one(content: bytes) -> dict:
    if HAVE_PIL:
        img = Image.open(io.BytesIO(content))
        exif: dict = {}
        raw = img.getexif()
        for t, v in raw.items():
            name = ExifTags.TAGS.get(t)
            if name == "GPSInfo" and isinstance(v, dict):
                exif["GPSInfo"] = {
                    ExifTags.GPSTAGS.get(g, str(g)): str(gv) for g, gv in v.items()
                }
            elif name:
                exif[name] = str(v)
        return {
            "height": img.height,
            "width": img.width,
            "dpi": [int(d) for d in img.info.get("dpi", (0, 0))],
            "layers": len(img.getbands()),
            "mode": img.mode,
            "format": img.format,
            "exif": exif,
        }
    try:  # real header parse; malformed bytes fall through to the fake
        real = _metadata_real(content)
    except (ValueError, struct.error, IndexError):
        real = None
    if real is not None:
        return real
    px = _fake_pixels(content)
    side = max(1, int(math.isqrt(len(px))))
    return {
        "height": side,
        "width": side,
        "dpi": [72, 72],
        "layers": 1,
        "mode": "L",
        "format": "FAKE",
        "exif": {"GPSInfo": {}},
    }


def _metadata_real(content: bytes) -> dict | None:
    """Dependency-free real metadata for PNG/JPEG bytes (see module
    docstring); None when the bytes are neither."""
    if _png.is_png(content):
        info = _png.png_info(content)  # header-only: no pixel decode
        return {
            "height": info["height"],
            "width": info["width"],
            "dpi": info["dpi"],
            "layers": info["layers"],
            "mode": info["mode"],
            "format": "PNG",
            "exif": {"GPSInfo": {}},  # PNG carries no EXIF in fixtures
        }
    if _png.is_jpeg(content):
        hdr = _png.parse_jpeg_header(content)
        exif = _png.parse_jpeg_exif(content)
        gps = exif.pop("GPSInfo", {}) if isinstance(exif, dict) else {}
        exif["GPSInfo"] = gps
        if hdr is not None:
            dpi = [0, 0]
            if "XResolution" in exif and str(exif["XResolution"]).isdigit():
                dpi = [int(exif["XResolution"]), int(exif.get("YResolution", exif["XResolution"]))]
            return {
                "height": hdr["height"],
                "width": hdr["width"],
                "dpi": dpi,
                "layers": hdr["layers"],
                "mode": hdr["mode"],
                "format": "JPEG",
                "exif": exif,
            }
    return None


def _pixel_statistics(px: np.ndarray) -> dict:
    """REAL per-band statistics over decoded (h, w, nch) uint8 pixels,
    following PIL.ImageStat's definitions: population stddev, median =
    smallest level whose cumulative count exceeds half, entropy over
    the concatenated per-band histogram, histogram = 256 bins per band
    concatenated (palette images expanded to RGB first, as PIL's
    ``convert`` step in the reference pipeline would)."""
    h, w, nch = px.shape
    n = h * w
    mean, median, stddev, extrema, hists = [], [], [], [], []
    for b in range(nch):
        band = px[:, :, b].ravel()
        hist = np.bincount(band, minlength=256)
        hists.append(hist)
        mean.append(float(band.mean()))
        stddev.append(float(band.std()))  # population, like ImageStat
        extrema.append([int(band.min()), int(band.max())])
        median.append(int(np.searchsorted(hist.cumsum(), n // 2, side="right")))
    full = np.concatenate(hists).astype(np.float64)
    p = full[full > 0] / full.sum()
    return {
        "mean": mean,
        "median": median,
        "stddev": stddev,
        "extrema": extrema,
        "entropy": float(-(p * np.log2(p)).sum()),
        "histogram": [int(x) for x in np.concatenate(hists)],
    }


def _statistics_one(content: bytes) -> dict:
    if HAVE_PIL:
        img = Image.open(io.BytesIO(content))
        stat = ImageStat.Stat(img)
        return {
            "mean": [float(x) for x in stat.mean],
            "median": [int(x) for x in stat.median],
            "stddev": [float(x) for x in stat.stddev],
            "extrema": [[int(a), int(b)] for (a, b) in img.getextrema()]
            if img.getbands() != ("P",)
            else [],
            "entropy": float(img.entropy()),
            "histogram": [int(x) for x in img.histogram()],
        }
    if _png.is_png(content):
        try:  # real decode; malformed PNGs fall through to the fake
            return _pixel_statistics(_png.decode_png(content)["pixels"])
        except (ValueError, struct.error, IndexError, zlib.error):
            pass
    if _png.is_jpeg(content):
        try:  # real baseline entropy decode (functions/jpeg.py);
            # malformed/arithmetic-coded streams fall through to the fake
            px = _jpeg.decode_jpeg(content)["pixels"]
            if px.ndim == 2:
                px = px[:, :, None]
            return _pixel_statistics(px)
        except (ValueError, struct.error, IndexError, KeyError):
            pass
    px = _fake_pixels(content)
    n = len(px)
    mean = sum(px) / n
    var = sum((x - mean) ** 2 for x in px) / n
    hist = [0] * 256
    for x in px:
        hist[x] += 1
    counts = Counter(px)
    entropy = -sum((c / n) * math.log2(c / n) for c in counts.values())
    return {
        "mean": [mean],
        "median": [sorted(px)[n // 2]],
        "stddev": [math.sqrt(var)],
        "extrema": [[min(px), max(px)]],
        "entropy": entropy,
        "histogram": hist,
    }


@pandas_udf(T.BinaryType())
def encode_text_png(s: pd.Series) -> pd.Series:
    """UTF-8 bytes of a string as a REAL 1×N grayscale PNG (lossless),
    so decode→statistics over it recovers exact byte statistics — the
    hook that gives the image-statistics query a full SQL oracle on an
    ASCII corpus (ord(char) == byte there)."""

    def enc(t: str) -> bytes:
        b = t.encode("utf-8")
        arr = np.frombuffer(b, dtype=np.uint8).reshape(1, -1)
        return _png.encode_png(arr)

    return s.map(enc)


@pandas_udf(T.BinaryType())
def encode_text_jpeg(s: pd.Series) -> pd.Series:
    """First 9 UTF-8 bytes (zero-padded) as a 24×24 grayscale JPEG of
    FLAT 8×8 blocks at quality=100. Flat blocks have a DC-only
    spectrum and all-ones quant tables, so the full entropy pipeline
    (Huffman → dequant → IDCT) round-trips bit-exactly — statistics of
    the decoded image are an integer function of the text bytes that a
    SQL oracle can replay (each byte appears exactly 64×)."""

    def enc(t: str) -> bytes:
        b = t.encode("utf-8")[:9].ljust(9, b"\0")
        grid = np.frombuffer(b, np.uint8).reshape(3, 3)
        return _jpeg.encode_jpeg(
            np.repeat(np.repeat(grid, 8, axis=0), 8, axis=1), quality=100
        )

    return s.map(enc)


@pandas_udf(T.BinaryType())
def encode_doc_jpeg_with_exif(
    text: pd.Series, make: pd.Series, model: pd.Series
) -> pd.Series:
    """Per-document 24×24 flat-block JPEG (see ``encode_text_jpeg``)
    carrying a REAL APP1/TIFF EXIF segment built from document fields
    (Make/Model) — the fixture that makes the metadata UDF's whole
    encode→EXIF-write→TIFF-parse chain SQL-oracle-checkable."""

    def enc(t: str, mk: str, md: str) -> bytes:
        b = t.encode("utf-8")[:9].ljust(9, b"\0")
        grid = np.frombuffer(b, np.uint8).reshape(3, 3)
        return _jpeg.encode_jpeg(
            np.repeat(np.repeat(grid, 8, axis=0), 8, axis=1),
            quality=100,
            app1=_png.build_exif_app1({"Make": mk, "Model": md}),
        )

    return pd.Series(
        [enc(t, mk, md) for t, mk, md in zip(text, make, model)]
    )


def _dhash_one(content: bytes) -> str | None:
    """64-bit difference hash as 16 hex chars (row-major; bit set when
    the left pixel is strictly darker than its right neighbour).
    Decodes via Pillow when present, else the dependency-free PNG
    codec; non-decodable bytes hash to None."""
    try:
        if HAVE_PIL:
            img = Image.open(io.BytesIO(content)).convert("L").resize(
                (9, 8), Image.BILINEAR
            )
            px = np.asarray(img, dtype=np.float64)
        else:
            if _png.is_jpeg(content):
                px = _jpeg.decode_jpeg(content)["pixels"].astype(np.float64)
                if px.ndim == 3:
                    px = px.mean(axis=2)
            else:
                d = _png.decode_png(content)
                px = d["pixels"].astype(np.float64).mean(axis=2)  # grayscale
            if px.shape != (8, 9):
                # exact area-average resize onto the 8×9 grid
                h, w = px.shape
                ys = np.linspace(0, h, 9).astype(int)
                xs = np.linspace(0, w, 10).astype(int)
                px = np.array(
                    [
                        [
                            px[ys[r]:max(ys[r + 1], ys[r] + 1),
                               xs[c]:max(xs[c + 1], xs[c] + 1)].mean()
                            for c in range(9)
                        ]
                        for r in range(8)
                    ]
                )
    except (ValueError, struct.error, IndexError, KeyError, zlib.error):
        # KeyError: JPEG scan referencing an undeclared DQT/DHT table id
        return None
    out = []
    for r in range(8):
        v = 0
        for c in range(8):
            if px[r, c] < px[r, c + 1]:
                v |= 1 << c
        out.append(f"{v:02x}")
    return "".join(out)


@pandas_udf(T.BinaryType())
def encode_text_png_8x9(s: pd.Series) -> pd.Series:
    """First 72 UTF-8 bytes (zero-padded) as an 8×9 grayscale PNG —
    the dHash-grid fixture: no resize step, so the hash is an exact
    integer function of the text bytes and a SQL oracle can replay the
    whole decode→hash chain."""

    def enc(t: str) -> bytes:
        b = t.encode("utf-8")[:72].ljust(72, b"\0")
        return _png.encode_png(np.frombuffer(b, np.uint8).reshape(8, 9))

    return s.map(enc)


@pandas_udf(T.StringType())
def image_dhash(s: pd.Series) -> pd.Series:
    """Perceptual difference-hash column: images whose dHashes are
    within a small Hamming distance are near-duplicate IMAGES — feed
    the output to ``operators/dedup.simhash_pairs``-style banding for
    CV-corpus dedup. Arrow-batched; one narrow projection."""
    return s.map(_dhash_one)


@pandas_udf(METADATA_SCHEMA)
def get_image_metadata(it: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
    for batch in it:
        yield pd.DataFrame([_metadata_one(b) for b in batch])


@pandas_udf(STATISTICS_SCHEMA)
def get_image_statistics(it: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
    for batch in it:
        yield pd.DataFrame([_statistics_one(b) for b in batch])


_METADATA_STATISTICS_SCHEMA = T.StructType(
    [
        T.StructField("metadata", METADATA_SCHEMA),
        T.StructField("statistics", STATISTICS_SCHEMA),
    ]
)


@pandas_udf(_METADATA_STATISTICS_SCHEMA)
def get_image_metadata_statistics(
    it: Iterator[pd.Series],
) -> Iterator[pd.DataFrame]:
    """Fused metadata+statistics pass (r13, guide §4.1): when a
    pipeline wants BOTH structs, evaluating them as separate pandas
    UDFs ships the binary ``content`` column across the JVM↔Python
    boundary twice and pays two worker round-trips per task. One fused
    call computes both from a single transfer; each struct is produced
    by the same per-image function as its standalone UDF, so outputs
    are identical."""
    for batch in it:
        lst = batch.tolist()
        yield pd.DataFrame(
            {
                "metadata": [_metadata_one(b) for b in lst],
                "statistics": [_statistics_one(b) for b in lst],
            }
        )


def register_image_functions(spark: SparkSession) -> None:
    """SQL registration so ``expr('get_image_metadata(content)')`` works
    (parity with `02_Data Ingest.py:204,252`)."""
    spark.udf.register("get_image_metadata", get_image_metadata)
    spark.udf.register("get_image_statistics", get_image_statistics)


def with_image_metadata(df: DataFrame, content_col: str = "content") -> DataFrame:
    return df.withColumn("metadata", get_image_metadata(F.col(content_col)))


def with_image_statistics(df: DataFrame, content_col: str = "content") -> DataFrame:
    return df.withColumn("statistics", get_image_statistics(F.col(content_col)))


def with_image_metadata_statistics(
    df: DataFrame, content_col: str = "content"
) -> DataFrame:
    """Both enrichment structs from ONE fused UDF evaluation (see
    ``get_image_metadata_statistics``). Marked non-deterministic so
    projection collapse cannot duplicate the evaluation when the two
    struct fields are split back out (guide §4.4 — the same physical
    results either way; the flag only pins ONE Python pass).

    Use it only when both structs are consumed. The non-deterministic
    flag also stops filter pushdown and column pruning through the UDF,
    so a consumer that selects just one struct still pays for both
    computations and the full Arrow transfer; such consumers should call
    ``with_image_metadata`` or ``with_image_statistics`` instead."""
    fused = get_image_metadata_statistics.asNondeterministic()
    return (
        df.withColumn("_ms", fused(F.col(content_col)))
        .withColumn("metadata", F.col("_ms.metadata"))
        .withColumn("statistics", F.col("_ms.statistics"))
        .drop("_ms")
    )
