"""Physical-layout hint translation (SURVEY.md §1.5): the reference's
Redshift CREATE TABLE clauses (diststyle/distkey/sortkey, reference
``pandas_redshift/core.py:199-211``) mapped onto Spark partitioning.

| Redshift clause        | Spark translation                          |
|------------------------|--------------------------------------------|
| diststyle even         | round-robin `repartition(n)`               |
| diststyle all          | broadcast hint (replicate to every node)   |
| distkey(col)           | hash `repartition(col)` (co-located joins) |
| sortkey(a,b,...)       | `sortWithinPartitions` (parquet min/max    |
|                        | stats give zone-map skipping for free)     |
| interleaved sortkey    | Z-order: sort on an interleaved-bit        |
|                        | (Morton) key so EVERY sortkey column gets  |
|                        | narrow per-file min/max stats, not just    |
|                        | the leading one                            |

Where the interleaved sortkey's Morton key comes from:

- a pandas frame whose key columns are all integer or float
  (``bridge.write_table``): :func:`zorder_codes` computes the key with
  numpy on the driver, from the frame's own min/max; it rides the
  Arrow ingest as an int64 ``__zorder__`` column and is sorted on as a
  plain sortkey, so the load runs no extra job;
- a Spark DataFrame, or any timestamp/string/bool key:
  :func:`zorder_key` builds the key as a Spark Column, with bounds from
  ``sortkey_bounds`` when given (``sink_zorder_layout`` passes
  ``stats.column_minmax``) or else from one eager min/max job.
"""

from __future__ import annotations

from functools import reduce

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame
from pyspark.sql.functions import broadcast

#: the Morton key's temporary column, dropped again before the write
ZORDER_COL = "__zorder__"


def sortkey_columns(sortkey: str) -> list[str]:
    """The column names of a ``sortkey`` clause ("a, b" -> [a, b])."""
    return [k.strip() for k in sortkey.split(",") if k.strip()]


def _check_zorder_width(cols: list[str], bits: int) -> None:
    if not cols:
        raise ValueError("zorder_key needs at least one column")
    if bits * len(cols) > 63:
        raise ValueError(f"{bits} bits x {len(cols)} cols exceeds a long")


def zorder_key(
    df: DataFrame,
    cols: list[str],
    bits: int = 16,
    bounds: dict | None = None,
) -> Column:
    """Morton (Z-curve) key over numeric columns: each column is
    min-max normalized into ``bits`` bits, then the bits are
    interleaved so locality in the key implies locality in EVERY
    column — the multi-column zone-map property Redshift's interleaved
    sortkey provides (reference core.py:209-210) and Delta's OPTIMIZE
    ZORDER re-implements.

    Bounds: ``bounds`` as ``{col: (min, max)}`` doubles when given
    (``sink_zorder_layout`` passes ``stats.column_minmax``'s
    session-memoized catalog-stats lookup); otherwise one eager 1-row
    min/max aggregate over ``df`` runs here, before the key exists, and
    raises ``ValueError`` naming a column with a non-null value that
    does not cast to double (a string such as ``'Austin'``).
    Key: a Spark Column of ``bits*len(cols)`` shiftright/shiftleft/
    bitwise-OR built-ins, evaluated by the executors (pure JVM bit
    arithmetic, whole-stage-codegen friendly); ``bits*len(cols)`` must
    fit the 63 usable bits of a long.  Null values normalize to 0.

    This is the path for Spark DataFrames and non-numeric keys; a
    numeric pandas frame gets the same key from :func:`zorder_codes`
    without a job or a Column tree."""
    _check_zorder_width(cols, bits)
    if bounds is None:
        as_double = {c: F.col(c).try_cast("double") for c in cols}
        row = df.agg(
            *[F.min(as_double[c]).alias(f"mn_{c}") for c in cols],
            *[F.max(as_double[c]).alias(f"mx_{c}") for c in cols],
            *[
                F.min(F.when(as_double[c].isNull(), F.col(c))).alias(f"bad_{c}")
                for c in cols
            ],
        ).first()
        for c in cols:
            if row[f"bad_{c}"] is not None:
                raise ValueError(
                    f"interleaved sortkey column {c!r} holds values that are "
                    f"not numbers (such as {row[f'bad_{c}']!r}): the Z-order "
                    "key normalizes each column as a double"
                )
        bounds = {c: (row[f"mn_{c}"], row[f"mx_{c}"]) for c in cols}
    top = (1 << bits) - 1
    norms = []
    for c in cols:
        mn, mx = bounds[c]
        if mn is None or mx is None or mx <= mn:
            norms.append(F.lit(0).cast("long"))
        else:
            scaled = (F.col(c).cast("double") - F.lit(mn)) * F.lit(top / (mx - mn))
            norms.append(
                F.least(F.lit(top), F.greatest(F.lit(0), F.floor(scaled))).cast("long")
            )
    ncols = len(cols)
    parts = [
        F.shiftleft(F.shiftright(norm, b).bitwiseAND(F.lit(1)), b * ncols + i)
        for i, norm in enumerate(norms)
        for b in range(bits)
    ]
    return reduce(lambda a, x: a.bitwiseOR(x), parts)


def zorder_codes(frame: pd.DataFrame, cols: list[str], bits: int = 16) -> np.ndarray:
    """:func:`zorder_key` for a pandas frame, computed with numpy on the
    driver: an int64 array equal bit for bit to the key Spark computes
    on the frame after Arrow ingest.  Bounds: the min/max of each
    column cast to double, taken from ``frame`` itself.

    Each step mirrors the Spark expression.  Values that Arrow ingests
    as SQL NULL (``isna``: NaN in a numpy float column, NA in a
    nullable one) are left out of the bounds and normalize to 0.  A NaN
    that stays a value (a nullable ``Float*`` column holding NaN) ranks
    above +inf, as in Spark's min/max.  A constant or all-null column
    contributes 0 bits; so does one with a NaN or infinite bound,
    whose scaled values are all 0 or NaN (the JVM casts ``floor`` of
    NaN to 0)."""
    _check_zorder_width(cols, bits)
    top = (1 << bits) - 1
    key = np.zeros(len(frame), dtype=np.int64)
    for i, c in enumerate(cols):
        s = frame[c]
        x = s.to_numpy(dtype="float64", na_value=np.nan)
        vals = x[~s.isna().to_numpy()]
        nan = np.isnan(vals)
        if nan.all():
            continue
        mn, mx = vals[~nan].min(), (np.nan if nan.any() else vals.max())
        if not mx > mn:
            continue
        with np.errstate(all="ignore"):
            scaled = np.floor((x - mn) * (top / (mx - mn)))
            norm = np.where(scaled >= 0, np.minimum(scaled, top), 0).astype(np.int64)
        for b in range(bits):
            key |= ((norm >> b) & 1) << (b * len(cols) + i)
    return key


def apply_layout(
    df: DataFrame,
    diststyle: str = "even",
    distkey: str = "",
    sortkey: str = "",
    sort_interleaved: bool = False,
    num_partitions: int | None = None,
    sortkey_bounds: dict | None = None,
) -> DataFrame:
    """Translate Redshift physical hints into a repartitioned/sorted
    DataFrame prior to write (or join)."""
    out = df
    if distkey:
        # distkey overrides diststyle, as in the reference (core.py:205-207)
        out = out.repartition(num_partitions, distkey) if num_partitions else out.repartition(distkey)
    elif diststyle == "all":
        out = broadcast(out)
    elif diststyle == "even":
        if num_partitions:
            out = out.repartition(num_partitions)
    else:
        raise ValueError("diststyle must be either 'even' or 'all'")
    if sortkey:
        keys = sortkey_columns(sortkey)
        if sort_interleaved and len(keys) > 1:
            # interleaved sortkey -> Z-order: sort on the Morton key so
            # parquet min/max stats stay narrow for ALL keys, matching
            # Redshift's interleaved zone-map semantics
            out = (
                out.withColumn(
                    ZORDER_COL, zorder_key(df, keys, bounds=sortkey_bounds)
                )
                .sortWithinPartitions(ZORDER_COL)
                .drop(ZORDER_COL)
            )
        else:
            out = out.sortWithinPartitions(*keys)
    return out

