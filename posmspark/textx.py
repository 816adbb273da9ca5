"""Text extraction + geocoding — Arrow-batched pandas UDFs, byte-exact.

The north-rule invariant: extracted text must be byte-identical per url
to the fixture's `text` column. Extraction is a pure deterministic
function of the html bytes (slice between fixed byte markers, utf-8
decode) — no locale, no float formatting, no normalization.

Geocode parse re-expresses the reference's text->attribute derivation
style (cf. escaped-UTF8 decode at extract_overpass.py:41-52 and the
lat/lon URL formatting at exposm/utils.py:118-126) as a single
vectorized regex over Arrow batches.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from posmspark.synth import HTML_POST, HTML_PRE

_PRE_LEN = len(HTML_PRE)
_POST_LEN = len(HTML_POST)

GEO_RE = r"geo: (-?\d+\.\d{5}), (-?\d+\.\d{5})"


@pandas_udf(T.StringType())
def extract_text_udf(html: pd.Series) -> pd.Series:
    """html bytes -> extracted text, byte-identical to the original.

    Pure function of html: strip the fixed PRE/POST byte markers and
    utf-8 decode. Vectorized via pandas .str on the binary series.
    """
    return html.str[_PRE_LEN:-_POST_LEN].str.decode("utf-8")


_GEO_SCHEMA = T.StructType(
    [
        T.StructField("lat", T.DoubleType()),
        T.StructField("lon", T.DoubleType()),
    ]
)


@pandas_udf(_GEO_SCHEMA)
def geocode_udf(text: pd.Series) -> pd.DataFrame:
    """Parse 'geo: {lat:.5f}, {lon:.5f}' from text -> (lat, lon) doubles.

    Vectorized Series.str.extract; rows without a geotag yield nulls.
    """
    ext = text.str.extract(GEO_RE)
    return pd.DataFrame(
        {
            "lat": pd.to_numeric(ext[0], errors="coerce"),
            "lon": pd.to_numeric(ext[1], errors="coerce"),
        }
    )


_INGEST_SCHEMA = T.StructType(
    [
        T.StructField("text_ok", T.BooleanType()),
        T.StructField("lat", T.DoubleType()),
        T.StructField("lon", T.DoubleType()),
        T.StructField("cell", T.LongType()),
    ]
)


@pandas_udf(_INGEST_SCHEMA)
def ingest_udf(html: pd.Series, text: pd.Series) -> pd.DataFrame:
    """Fused ingest kernel: byte-identity verification + geocode parse +
    tile-cell encode in ONE Arrow round-trip.

    Chaining separate pandas UDFs costs one Python worker pass each per
    task (JVM->py->JVM->py), which oversubscribes cores at high
    parallelism; the fused kernel is the hot-path form (the standalone
    extract_text_udf / geocode_udf / cell_udf remain the tested
    reference kernels and feed the same assertions).
    """
    import numpy as np

    from posmspark import cells

    # compare RAW BYTES (slice vs encode(text)) like the JVM kernel:
    # decoding the slice crashed the whole task on any row whose html
    # isn't valid UTF-8 at the cut (fuzz r03) — malformed rows must
    # ROUTE OUT as text_ok=False, never kill the job
    sliced = html.str[_PRE_LEN:-_POST_LEN]
    claim = text.str.encode("utf-8")
    ok = sliced.eq(claim) & sliced.notna() & claim.notna()
    ext = text.str.extract(GEO_RE)
    lat = pd.to_numeric(ext[0], errors="coerce")
    lon = pd.to_numeric(ext[1], errors="coerce")
    cell = cells.encode(lon.to_numpy(dtype=np.float64, na_value=np.nan),
                        lat.to_numpy(dtype=np.float64, na_value=np.nan))
    # nullable Int64 WITHOUT a float64 detour: cell ids use the high
    # mantissa bits, float64 would silently collapse distinct cells
    cell_arr = pd.arrays.IntegerArray(cell, mask=(cell < 0))
    return pd.DataFrame(
        {
            "text_ok": ok,
            "lat": lat,
            "lon": lon,
            "cell": cell_arr,
        }
    )


# Deliberately marked non-deterministic (it IS deterministic): this stops
# Catalyst from (a) duplicating the UDF into both a pushed-down Filter and
# the downstream Project (observed: two ArrowEvalPython nodes = the whole
# kernel runs twice) and (b) re-ordering it below other operators.
ingest_udf = ingest_udf.asNondeterministic()


def with_ingest(df, html_col: str = "html", text_col: str = "text"):
    """Hot-path ingest: adds text_ok/lat/lon/cell via the fused kernel."""
    g = ingest_udf(F.col(html_col), F.col(text_col))
    return (
        df.withColumn("_ing", g)
        .select("*", "_ing.text_ok", "_ing.lat", "_ing.lon", "_ing.cell")
        .drop("_ing")
    )


def with_ingest_jvm(df, html_col: str = "html", text_col: str = "text"):
    """Pure-JVM ingest: byte-identity verify + geocode parse + cell
    encode with ZERO Python workers — html/text never cross the Arrow
    boundary (at 100 TB those are the wide columns; keeping them inside
    whole-stage codegen makes ingest scan-bound). Bit-identical output
    to the fused Arrow kernel (parity-tested, measured equal at
    local[8] where the stage is scan-bound; wins where Python workers
    would oversubscribe cores).

    The byte-identity check compares RAW BYTES (substring(html) vs
    encode(text)) — stronger than string equality.
    """
    from posmspark import cells

    body = F.expr(
        f"substring({html_col}, {_PRE_LEN + 1},"
        f" length({html_col}) - {_PRE_LEN + _POST_LEN})")
    ok = ((body == F.encode(F.col(text_col), "UTF-8"))
          & F.col(text_col).isNotNull())

    def num(group):
        # try_cast: '' (no regex match) -> null, where ANSI cast refuses
        # it; naming the regex once keeps one evaluation per coordinate
        return F.regexp_extract(F.col(text_col), GEO_RE, group).try_cast("double")

    # project lat/lon first, then encode from those columns: the encoder
    # names each coordinate several times and would otherwise inline
    # (and re-run) the regex at every mention
    parsed = df.select("*", ok.alias("text_ok"), num(1).alias("lat"),
                       num(2).alias("lon"))
    return parsed.select(
        "*", cells.cell_column("lon", "lat").alias("cell"))


def with_extracted_text(df, html_col: str = "html", out_col: str = "text_extracted"):
    return df.withColumn(out_col, extract_text_udf(F.col(html_col)))


def with_geocode(df, text_col: str = "text"):
    """Add lat/lon columns parsed from the text column."""
    g = geocode_udf(F.col(text_col))
    return df.withColumn("_geo", g).select("*", "_geo.lat", "_geo.lon").drop("_geo")


# --------------------------------------------------------------------------
# document fingerprinting: O(n) polynomial rolling hash (Rabin-Karp)

FP_BASE = np.uint64(1099511628211)   # FNV prime as the rolling base
FP_WINDOW = 16


def rolling_window_hashes(data: bytes, window: int = FP_WINDOW) -> np.ndarray:
    """All window hashes of `data` in ONE vectorized O(n) pass:
    h[i] = sum_{j<window} base^(window-1-j) * data[i+j]  (mod 2^64).

    Vectorized Rabin-Karp: prefix = cumsum(base^{-i}·x_i) doesn't work
    in modular 2^64 without inverses, so use the sliding recurrence on
    cumulative products instead: compute p[i] = base^i (wrapping), then
    h over windows via a strided dot — numpy uint64 wraps mod 2^64 by
    construction, giving the classic rolling-hash semantics exactly.
    """
    x = np.frombuffer(data, dtype=np.uint8).astype(np.uint64)
    n = len(x)
    if n < window:
        x = np.pad(x, (0, window - n))
        n = window
    with np.errstate(over="ignore"):  # mod-2^64 wrap is the hash
        powers = np.empty(window, dtype=np.uint64)
        powers[0] = np.uint64(1)
        for j in range(1, window):
            powers[j] = powers[j - 1] * FP_BASE
        weights = powers[::-1].copy()  # base^(window-1) .. base^0
        strided = np.lib.stride_tricks.sliding_window_view(x, window)
        return (strided * weights[None, :]).sum(axis=1, dtype=np.uint64)
