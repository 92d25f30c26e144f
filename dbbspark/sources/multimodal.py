"""Multimodal columns: opaque binary content + typed metadata (SURVEY.md
§2.11 C5, §2.10 U3).

The reference treats file bytes as opaque except for a per-filetype plugin
that extracts a declared keyword schema from them (FITS headers,
`etc/decam_src_keywords.txt`; invoked at `bin/save_DBB_stagein_to_DBB.py:160`).
The Spark-native form: a `binary` column travels with the row; keyword
extraction is one projection producing a typed struct next to the bytes —
Catalyst expressions for the default `KEY = value` decoder, one scalar
pandas UDF for any other decoder. Media decoding is an Arrow-batched
transform over `mapInPandas`.

Decoders for real media formats (image resize, audio resample, frame
sampling) need libraries not present in this container; they are STUBBED
behind `register_decoder` with a deterministic fake as the default, but the
Spark-side plumbing — schema, batch iteration, partition sizing — is real
and tested.

Scale notes:
- `binaryFile` prunes `content` when unprojected, so metadata-only plans
  never read bytes;
- Python extraction runs per Arrow batch (`spark.sql.execution.arrow
  .maxRecordsPerBatch` bounds memory per task), not per row;
- keep bytes out of shuffles: extract → drop `content` → then join/agg.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from ..functions import let, utf8_text
from ..plans.keywords import KeywordSchema

# ---------------------------------------------------------------------------
# Binary document reader

def read_binary_docs(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    recursive: bool = False,
) -> DataFrame:
    """Read a directory of opaque files as (path, modificationTime, length,
    content) — the multimodal base table (SURVEY.md §1.4 "binary file
    content")."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    if recursive:
        reader = reader.option("recursiveFileLookup", "true")
    return reader.load(path)


# ---------------------------------------------------------------------------
# Header decoders + metadata extraction. The decoder is PLUGGABLE: any
# Callable[[bytes], Mapping[str, str]] drops into `extract_kv_metadata`,
# mirroring the reference's per-filetype plugin dispatch
# (bin/save_DBB_stagein_to_DBB.py:160, schema etc/decam_src_keywords.txt).
# The default `kv_text_decode` is compiled to Catalyst expressions
# (`_native_kv_col`), so it never starts a Python worker; any other
# decoder runs as one scalar pandas UDF (`_udf_kv_col`).

# The line boundaries of `str.splitlines` as a Java regex, and the
# whitespace set of `str.strip` (every `str.isspace` character), so the
# native decoder splits and strips exactly as `kv_text_decode` does.
_LINE_BREAKS = r"\r\n|[\n\x0B\x0C\r\x1C-\x1E\x85\u2028\u2029]"
_WHITESPACE = (
    "\t\n\x0b\x0c\r\x1c\x1d\x1e\x1f \x85\xa0\u1680"
    "\u2000\u2001\u2002\u2003\u2004\u2005\u2006\u2007\u2008\u2009\u200a"
    "\u2028\u2029\u202f\u205f\u3000"
)


def kv_text_decode(raw: bytes) -> dict[str, str]:
    """Default header decoder: `KEY = value` text lines (the fixture
    format). Last occurrence wins, keys uppercased."""
    kv: dict[str, str] = {}
    for line in raw.decode("utf-8", "replace").splitlines():
        if "=" in line:
            k, v = line.split("=", 1)
            kv[k.strip().upper()] = v.strip()
    return kv


def fits_header_decode(raw: bytes) -> dict[str, str]:
    """Primary-HDU FITS header decoder — real format, no libraries.

    FITS headers are ASCII: 80-byte cards, `KEYWORD = value / comment`,
    terminated by an END card (FITS Standard 4.0 §4.4; the reference
    parses the same headers via its per-filetype plugin,
    bin/save_DBB_stagein_to_DBB.py:160). String values are
    single-quoted with `''` escaping; non-string values end at the
    comment slash. Returns {KEYWORD: value-string}; typed casting is the
    caller's schema concern (plans/keywords.py Y/N/R flags)."""
    out: dict[str, str] = {}
    for off in range(0, len(raw) - len(raw) % 80, 80):
        card = raw[off : off + 80].decode("ascii", "replace")
        key = card[:8].strip()
        if key == "END":
            break
        if card[8:10] != "= ":
            continue  # COMMENT / HISTORY / CONTINUE / blank cards
        body = card[10:].lstrip()
        if body.startswith("'"):
            buf, i, s = [], 1, body
            while i < len(s):
                if s[i] == "'":
                    if i + 1 < len(s) and s[i + 1] == "'":
                        buf.append("'")
                        i += 2
                        continue
                    break
                buf.append(s[i])
                i += 1
            out[key.upper()] = "".join(buf).rstrip()
        else:
            out[key.upper()] = body.split("/")[0].strip()
    return out


def extract_kv_metadata(
    df: DataFrame,
    keywords: dict[str, bool],
    content_col: str = "content",
    decoder: Callable[[bytes], dict[str, str]] = kv_text_decode,
) -> DataFrame:
    """Extract a declared keyword schema out of file bytes.

    ``keywords`` maps KEYWORD -> required? (the R flag of
    `etc/decam_src_keywords.txt`; SURVEY.md §1.1.2). ``decoder`` turns one
    file's bytes into {KEYWORD: value} — `kv_text_decode` (default,
    compiled to Catalyst expressions), `fits_header_decode` for real FITS
    HDUs, or any custom callable (run as a pandas UDF: it is closed over by
    the Arrow workers, so it must be picklable). A decoder
    raising on malformed bytes yields an empty header for that row — the
    row then reports every required key missing and ingest routes it to
    quarantine instead of aborting, unlike the reference's SystemExit at
    `bin/save_DBB_stagein_to_DBB.py:212-215`.

    Output adds a ``meta`` struct column with one nullable string field
    per keyword plus ``meta_missing_required`` listing absent R-flagged
    keys (joined as a sorted comma string downstream where driver
    hashing needs it)."""
    spec = KeywordSchema(
        flags=tuple((k, "R" if req else "Y") for k, req in keywords.items()),
        decoder=decoder,
    )
    # The struct gets its own projection so both fields read one
    # evaluation: Spark does not share it between two output columns.
    kv = "_kv_metadata"
    return (
        df.select("*", keyword_metadata_col(spec, F.col(content_col)).alias(kv))
        .select(
            "*",
            F.col(kv)["meta"].alias("meta"),
            F.col(kv)["missing"].alias("meta_missing_required"),
        )
        .drop(kv)
    )


def keyword_metadata_col(spec: KeywordSchema, content: Column) -> Column:
    """One file's declared keywords as ``struct<meta, missing>``: ``meta``
    has one nullable string field per keyword (lowercased name), and
    ``missing`` lists the R-flagged keywords the header lacks, in schema
    order. NULL content reads as an empty header.

    ``spec.decoder`` None or `kv_text_decode` compiles to Catalyst
    expressions (no Python worker); any other decoder runs as one scalar
    pandas UDF — guard ``content`` with a CASE (``when(filetype = ft,
    content)``) so only that filetype's bytes are shipped to Python."""
    if spec.decoder is None or spec.decoder is kv_text_decode:
        return _native_kv_col(spec, content)
    return _udf_kv_col(spec, content)


def _strip(c: Column) -> Column:
    return F.trim(c, F.lit(_WHITESPACE))


def _native_kv_col(spec: KeywordSchema, content: Column) -> Column:
    """`kv_text_decode` + keyword lookup as Catalyst expressions.

    `utf8_text` decodes as ``decode("utf-8", "replace")`` does, the split
    and strip use the `str.splitlines` / `str.strip` character sets, and
    the last line per keyword wins, as in the dict the Python decoder
    builds. Keys are matched with Spark's `upper`, which agrees with
    `str.upper` except on the few code points whose case mapping is newer
    than Python's Unicode database — no ASCII keyword is affected."""
    lines = F.filter(
        F.split(utf8_text(content), _LINE_BREAKS), lambda ln: ln.contains("=")
    )
    entries = F.transform(
        lines,
        lambda ln: F.struct(
            F.upper(_strip(F.substring_index(ln, "=", 1))).alias("k"),
            _strip(F.regexp_replace(ln, "^[^=]*=", "")).alias("v"),
        ),
    )

    def last(es: Column, key: str) -> Column:
        return F.try_element_at(F.filter(es, lambda e: e["k"] == key), F.lit(-1))["v"]

    keys, required = [k for k, _ in spec.flags], spec.required

    def build(es: Column) -> Column:
        missing = (
            F.array_compact(
                F.array(*[F.when(last(es, k).isNull(), F.lit(k)) for k in required])
            )
            if required
            else F.array().cast("array<string>")
        )
        return F.struct(
            F.struct(*[last(es, k).alias(k.lower()) for k in keys]).alias("meta"),
            missing.alias("missing"),
        )

    # every keyword reads `entries`; bind it so the split runs once
    return let(entries, build)


def _udf_kv_col(spec: KeywordSchema, content: Column) -> Column:
    """A custom decoder as one scalar pandas UDF returning
    ``struct<meta, missing>``. The decoder is closed over by the Arrow
    workers, so it must be picklable."""
    keys, required, decoder = [k for k, _ in spec.flags], spec.required, spec.decoder
    out_type = T.StructType(
        [
            T.StructField(
                "meta",
                T.StructType([T.StructField(k.lower(), T.StringType()) for k in keys]),
            ),
            T.StructField("missing", T.ArrayType(T.StringType())),
        ]
    )

    def extract(raws: pd.Series) -> pd.DataFrame:
        metas, missings = [], []
        for raw in raws:
            kv: dict[str, str] = {}
            if raw is not None:
                try:
                    kv = dict(decoder(bytes(raw)))
                except Exception:  # malformed file → quarantine, not abort
                    kv = {}
            metas.append({k.lower(): kv.get(k) for k in keys})
            missings.append([k for k in required if kv.get(k) is None])
        return pd.DataFrame({"meta": metas, "missing": missings})

    return F.pandas_udf(extract, out_type)(content)


# ---------------------------------------------------------------------------
# Media decode stubs (image/audio/video feature extraction)

_DECODERS: dict[str, Callable[[bytes], dict]] = {}


def _load_default_codecs() -> None:
    """Activate the built-in real codecs (sources/codecs.py registers
    pgm/ppm/fits/wav on import). Called lazily by the seam entry points
    so library users get them without an explicit import; codecs.py
    imports from THIS module, so the import must happen at call time,
    never at module top."""
    from . import codecs  # noqa: F401


def register_decoder(kind: str, fn: Callable[[bytes], dict]) -> None:
    """Register a real decoder for ``kind`` (the built-ins cover
    pgm/ppm/fits/wav — sources/codecs.py; kinds without a registration
    fall back to the deterministic fake)."""
    _DECODERS[kind] = fn


def _fake_decode(raw: bytes) -> dict:
    """Deterministic stand-in for a media decoder: stable pseudo-features
    derived from a content digest. Replace via `register_decoder`.

    Fallback contract (SURVEY C5): this stub serves the DECODE leg only
    — it keeps `q_multimodal_decode` oracle-verifiable for kinds with no
    registered codec. The resize and frame-sampling legs deliberately
    have NO such fallback: an unregistered kind yields NULL there,
    never fabricated bytes."""
    h = hashlib.sha256(raw).digest()
    return {
        "width": 64 + h[0],
        "height": 64 + h[1],
        "n_frames": 1 + h[2] % 8,
        "feature": [b / 255.0 for b in h[:8]],
    }


DECODE_SCHEMA = T.StructType(
    [
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("feature", T.ArrayType(T.DoubleType())),
    ]
)


def decode_media(
    df: DataFrame, kind: str = "image", content_col: str = "content"
) -> DataFrame:
    """Attach decoded media features as a ``decoded`` struct column.

    Runs the registered decoder for ``kind`` over Arrow batches via
    mapInPandas — the production shape for "decode 100 TB of images":
    one Python worker per task, bytes never leave the executor, output
    is a narrow typed struct. Real codecs for pgm/ppm/fits/wav live in
    sources/codecs.py (registered on import); the deterministic fake
    remains the fallback for kinds with no registered decoder. A
    decoder raising on malformed bytes yields decoded=NULL for that row
    — quarantine's concern, never a job abort (same stance as
    extract_kv_metadata vs the reference's SystemExit,
    bin/save_DBB_stagein_to_DBB.py:212-215).
    """
    _load_default_codecs()
    decoder = _DECODERS.get(kind, _fake_decode)
    out_schema = T.StructType(
        df.schema.fields + [T.StructField("decoded", DECODE_SCHEMA, True)]
    )

    def _one(raw) -> dict | None:
        if raw is None:
            return None
        try:
            return decoder(bytes(raw))
        except Exception:  # malformed media → NULL, row survives
            return None

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            pdf["decoded"] = [_one(raw) for raw in pdf[content_col]]
            yield pdf

    return df.mapInPandas(run, schema=out_schema)


# Frame sampling (video/audio → per-frame feature rows)

_FRAME_EXTRACTORS: dict[str, tuple[Callable[[bytes], int], Callable[[bytes, list[int]], list[list[float]]]]] = {}


_RESIZERS: dict[str, Callable[[bytes, int, int], bytes]] = {}


def register_resizer(kind: str, fn: Callable[[bytes, int, int], bytes]) -> None:
    """Register a real (raw, width, height) -> raw resizer for ``kind``
    (built-ins cover pgm/ppm/fits — sources/codecs.py). There is NO
    fake fallback for resize: emitting fabricated bytes as "the resized
    image" would poison downstream consumers, so unregistered kinds
    yield NULL rows instead."""
    _RESIZERS[kind] = fn


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("content", T.BinaryType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
    ]
)


def resize_media(
    df: DataFrame,
    width: int,
    height: int,
    kind: str = "pgm",
    content_col: str = "content",
) -> DataFrame:
    """Attach a ``resized`` struct (re-encoded bytes + target dims) —
    the decode → resample → re-encode leg of the multimodal pipeline
    (thumbnailing / input-normalization before feature extraction).

    Same execution shape as `decode_media`: Arrow-batched mapInPandas,
    bytes never leave the executor, malformed media → NULL row (the
    quarantine stance), map-only so it fuses with the binaryFile scan.
    Real resizers for pgm/ppm/fits are registered by sources/codecs.py
    (nearest-neighbor by pixel-center index mapping, format-preserving
    re-encode)."""
    _load_default_codecs()
    resizer = _RESIZERS.get(kind)
    out_schema = T.StructType(
        df.schema.fields + [T.StructField("resized", RESIZED_SCHEMA, True)]
    )

    def _one(raw) -> dict | None:
        if raw is None or resizer is None:
            return None
        try:
            return {
                "content": resizer(bytes(raw), width, height),
                "width": width,
                "height": height,
            }
        except Exception:  # malformed media → NULL, row survives
            return None

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            pdf["resized"] = [_one(raw) for raw in pdf[content_col]]
            yield pdf

    return df.mapInPandas(run, schema=out_schema)


def register_frame_extractor(
    kind: str,
    count_fn: Callable[[bytes], int],
    extract_fn: Callable[[bytes, list[int]], list[list[float]]],
) -> None:
    """Register a real frame pipeline for ``kind``: ``count_fn`` reads
    just the container header (frame count, no decode); ``extract_fn``
    (raw_bytes, frame_indices) seeks straight to the requested frames and
    decodes ONLY those — the whole point of sampling before decoding.
    The deterministic fakes stand in where the container has no codecs."""
    _FRAME_EXTRACTORS[kind] = (count_fn, extract_fn)


def _fake_frame_count(raw: bytes) -> int:
    return 1 + hashlib.sha256(raw).digest()[2] % 8


def _fake_extract(raw: bytes, idxs: list[int]) -> list[list[float]]:
    """Per-frame pseudo-features: digest(content || frame_idx) — stable,
    value-testable, distinct per frame."""
    out = []
    for i in idxs:
        h = hashlib.sha256(raw + i.to_bytes(4, "big")).digest()
        out.append([b / 255.0 for b in h[:8]])
    return out


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("feature", T.ArrayType(T.DoubleType())),
    ]
)


def sample_frames(
    df: DataFrame,
    k: int = 4,
    kind: str = "video",
    content_col: str = "content",
    id_col: str = "path",
) -> DataFrame:
    """(id, frame_idx, n_frames, feature): ``k`` evenly-spaced frames
    per media document — the frame-sampling plumbing for video/audio
    training columns. Index policy: round(i·(n-1)/(k-1)) for i<k (first
    and last frame always included; all n when n <= k), chosen BEFORE
    decoding so a real extractor touches only the sampled frames.

    mapInPandas over Arrow batches (one Python worker per task, bytes
    stay on the executor); output is a narrow exploded relation — at
    100 TB the wide binary column never shuffles, only the per-frame
    features do. Null-content rows emit no frames (the ingest layer's
    quarantine owns reporting them)."""
    if k <= 0:
        raise ValueError("k must be positive")
    _load_default_codecs()
    count_frames, extract = _FRAME_EXTRACTORS.get(
        kind, (_fake_frame_count, _fake_extract)
    )
    out_schema = T.StructType(
        [df.schema[id_col]] + list(FRAME_SCHEMA.fields)
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for ident, raw in zip(pdf[id_col], pdf[content_col]):
                if raw is None:
                    continue
                raw = bytes(raw)
                n = count_frames(raw)
                if n <= k:
                    idxs = list(range(n))
                else:
                    idxs = sorted({round(i * (n - 1) / (k - 1)) for i in range(k)})
                feats = extract(raw, idxs)
                for i, f in zip(idxs, feats):
                    rows.append((ident, i, n, f))
            yield pd.DataFrame(
                rows, columns=[id_col, "frame_idx", "n_frames", "feature"]
            )

    return df.mapInPandas(run, schema=out_schema)
