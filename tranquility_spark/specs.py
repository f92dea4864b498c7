"""Druid-shaped ingestion specs re-expressed for Spark.

Mirrors the schema surface of the reference (druid-io/tranquility):

- ``TimestampSpec``      — reference: Druid ``TimestampSpec`` consumed in
  ``core/.../druid/DruidBeams.scala#fromConfig`` (SURVEY.md §2.2 P3).
- ``DimensionsSpec``     — reference: ``core/.../druid/DruidRollup.scala``
  ``SpecificDruidDimensions`` / ``SchemalessDruidDimensions`` (P4/P5).
- aggregator classes     — reference: Druid ``AggregatorFactory`` types named in
  ``metricsSpec`` (``count``, ``longSum``, ``doubleSum``, ``longMin``,
  ``longMax``, ``doubleMin``, ``doubleMax``, ``hyperUnique``, ``cardinality``,
  ``filtered``) — SURVEY.md §2.4 A1–A12.
- ``GranularitySpec``    — reference: ``granularitySpec{segmentGranularity,
  queryGranularity, rollup}``; truncation in
  ``core/.../beam/ClusteredBeamTuning.scala#segmentBucket`` and
  ``DruidRollup#indexGranularity`` (T1/T2).
- filter dicts           — reference: Druid filter JSON used by the
  ``filtered`` aggregator (``selector`` / ``in`` / ``bound`` / ``regex`` /
  ``and`` / ``or`` / ``not``) — SURVEY.md §2.4 A8.

Every spec object knows how to render BOTH a Spark ``Column`` and an
equivalent ANSI/DuckDB SQL fragment, so the correctness oracle is generated
from the same declaration the engine executes — aliases cannot drift apart.

Design note (100 TB): all aggregators compile to built-in Catalyst expressions
(``HashAggregateExec`` with partial aggregation / whole-stage codegen). No
Python executes per-row anywhere in this module.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Optional, Sequence, Union

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Granularities (Druid QueryGranularity / segmentGranularity)
# ---------------------------------------------------------------------------

# unit-based granularities map straight to date_trunc in both engines
_TRUNC_UNITS = {
    "SECOND": "second",
    "MINUTE": "minute",
    "HOUR": "hour",
    "DAY": "day",
    "WEEK": "week",
    "MONTH": "month",
    "YEAR": "year",
}

# period granularities expressed as a whole number of seconds
_PERIOD_SECONDS = {
    "FIVE_MINUTE": 300,
    "TEN_MINUTE": 600,
    "FIFTEEN_MINUTE": 900,
    "THIRTY_MINUTE": 1800,
    "SIX_HOUR": 21600,
}


@dataclass(frozen=True)
class Granularity:
    """A Druid-style time granularity: NONE, a calendar unit, or an N-second period.

    Reference: ``ClusteredBeamTuning#segmentGranularity`` (segment buckets,
    default HOUR) and ``DruidRollup#indexGranularity`` (rollup truncation).
    """

    name: str

    def __post_init__(self):
        n = self.name.upper()
        if n != "NONE" and n not in _TRUNC_UNITS and n not in _PERIOD_SECONDS:
            raise ValueError(f"unknown granularity: {self.name}")
        object.__setattr__(self, "name", n)

    @property
    def is_none(self) -> bool:
        return self.name == "NONE"

    def truncate(self, col: Column) -> Column:
        """Spark expression truncating a timestamp column to this granularity."""
        if self.is_none:
            return col
        if self.name in _TRUNC_UNITS:
            return F.date_trunc(_TRUNC_UNITS[self.name], col)
        secs = _PERIOD_SECONDS[self.name]
        # integer arithmetic on epoch seconds — exact, engine-portable
        return F.timestamp_seconds(
            (F.unix_timestamp(col) - F.pmod(F.unix_timestamp(col), F.lit(secs)))
        )

    def truncate_sql(self, expr: str) -> str:
        """DuckDB SQL fragment computing the identical truncation."""
        if self.is_none:
            return expr
        if self.name in _TRUNC_UNITS:
            return f"date_trunc('{_TRUNC_UNITS[self.name]}', {expr})"
        secs = _PERIOD_SECONDS[self.name]
        # epoch() returns seconds; epoch_ms(BIGINT) returns a naive TIMESTAMP
        return (
            f"epoch_ms(CAST((CAST(floor(epoch({expr})) AS BIGINT) "
            f"- CAST(floor(epoch({expr})) AS BIGINT) % {secs}) * 1000 AS BIGINT))"
        )


# ---------------------------------------------------------------------------
# Timestamp spec (P3)
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class TimestampSpec:
    """Timestamp extraction: column + format (auto|iso|posix|millis|<pattern>).

    Reference: Druid ``TimestampSpec`` via
    ``dataSchema.parser.parseSpec.timestampSpec``, applied by the task spec
    built in ``core/.../druid/DruidBeamMaker.scala`` (SURVEY.md §2.2 P3).
    Rows whose timestamp cannot be parsed are dropped (Druid semantics).
    """

    column: str = "timestamp"
    format: str = "auto"
    output: str = "ts"

    def extract(self, df: DataFrame) -> Column:
        src = df[self.column]
        dtype = dict(df.dtypes)[self.column]
        fmt = self.format.lower()
        if dtype == "timestamp":
            return src
        if dtype == "timestamp_ntz":
            # a naive parquet timestamp: read it in the (UTC-pinned) session
            # zone, as sources.files.load_table does — event-time operators
            # (withWatermark, window) reject TIMESTAMP_NTZ
            return src.cast("timestamp")
        # try_* variants: Druid drops rows with unparseable timestamps rather
        # than failing the ingest (and Spark 4 ANSI mode would throw otherwise)
        num = src.try_cast("long") if dtype == "string" else src.cast("long")
        if fmt == "posix":
            return F.timestamp_seconds(num)
        if fmt == "millis":
            return F.timestamp_millis(num)
        if fmt == "iso":
            return F.try_to_timestamp(src)
        if fmt == "auto":
            if dtype in ("bigint", "int", "long", "double"):
                # Druid 'auto': numeric → posix millis if large, else seconds
                return F.when(
                    num > F.lit(31507200000),  # year ~2968 in seconds
                    F.timestamp_millis(num),
                ).otherwise(F.timestamp_seconds(num))
            return F.try_to_timestamp(src)
        # explicit Joda-style pattern (subset compatible with java.time)
        return F.try_to_timestamp(src, F.lit(self.format))


# ---------------------------------------------------------------------------
# Dimensions spec (P4 / P5)
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class DimensionsSpec:
    """Which input fields become dimensions.

    ``dimensions`` set  → SpecificDruidDimensions (fixed schema, P4).
    ``dimensions`` None → SchemalessDruidDimensions (everything except
    ``exclusions`` ∪ metric fieldNames ∪ the timestamp column, P5).
    ``spatial_dimensions`` → derived dims: each ``(dimName, (field, ...))``
    joins its coordinate fields into Druid's "lat,lon" string encoding
    (reference: ``spatialDimensions`` in ``DruidDimensions``; the derived
    column is materialized by the rollup before grouping). Spatial names
    are APPENDED by ``resolve`` — do not list them in ``dimensions`` too,
    or the rollup emits a duplicate column the parquet writer rejects
    (Druid likewise declares them separately from ``dimensions``).
    Reference: ``core/.../druid/DruidRollup.scala``.
    """

    dimensions: Optional[Sequence[str]] = None
    exclusions: Sequence[str] = field(default_factory=tuple)
    spatial_dimensions: Sequence[tuple] = field(default_factory=tuple)

    def resolve(self, df: DataFrame, ts_column: str, metric_fields: Sequence[str]) -> list[str]:
        spatial_names = [name for name, _ in self.spatial_dimensions]
        if self.dimensions is not None:
            return list(self.dimensions) + spatial_names
        coord_fields = {f for _, fields in self.spatial_dimensions for f in fields}
        banned = set(self.exclusions) | set(metric_fields) | {ts_column} | coord_fields
        return [c for c in df.columns if c not in banned] + spatial_names

    def spatial_columns(self) -> list[tuple[str, Column]]:
        """(name, expression) for each derived spatial dimension."""
        return [
            (name, F.concat_ws(",", *[F.col(f) for f in fields]))
            for name, fields in self.spatial_dimensions
        ]


# ---------------------------------------------------------------------------
# Druid filter JSON → Column + SQL (A8 predicates)
# ---------------------------------------------------------------------------


def filter_to_column(spec: dict) -> Column:
    """Compile a Druid filter dict to a Spark Column.

    Reference: Druid filter JSON accepted by the ``filtered`` aggregator
    (selector / in / bound / regex / and / or / not) — SURVEY.md §2.4 A8.
    """
    t = spec["type"]
    if t == "selector":
        return F.col(spec["dimension"]) == F.lit(spec["value"])
    if t == "in":
        return F.col(spec["dimension"]).isin(list(spec["values"]))
    if t == "bound":
        col = F.col(spec["dimension"])
        if spec.get("ordering") == "numeric":
            col = col.cast("double")
        conds = []
        if "lower" in spec:
            lo = F.lit(spec["lower"])
            conds.append(col > lo if spec.get("lowerStrict") else col >= lo)
        if "upper" in spec:
            hi = F.lit(spec["upper"])
            conds.append(col < hi if spec.get("upperStrict") else col <= hi)
        out = conds[0]
        for c in conds[1:]:
            out = out & c
        return out
    if t == "regex":
        return F.col(spec["dimension"]).rlike(spec["pattern"])
    if t == "and":
        out = filter_to_column(spec["fields"][0])
        for f_ in spec["fields"][1:]:
            out = out & filter_to_column(f_)
        return out
    if t == "or":
        out = filter_to_column(spec["fields"][0])
        for f_ in spec["fields"][1:]:
            out = out | filter_to_column(f_)
        return out
    if t == "not":
        return ~filter_to_column(spec["field"])
    if t == "spatial":
        return _spatial_bound_column(spec["dimension"], spec["bound"])
    raise ValueError(f"unsupported filter type: {t}")


def _spatial_coords(dim: str, n: int) -> list[Column]:
    """The spatial dimension's coordinates, decoded from the "lat,lon"
    string encoding ``DimensionsSpec.spatial_columns`` writes (Druid's
    convention). try_element_at + try_cast: a truncated or malformed
    coordinate makes the comparison NULL → row filtered out, never an
    ANSI index/cast error."""
    parts = F.split(F.col(dim), ",")
    return [
        F.try_element_at(parts, F.lit(i + 1)).try_cast("double")
        for i in range(n)
    ]


def _spatial_bound_column(dim: str, bound: dict) -> Column:
    """Druid spatialFilter bound → Spark predicate (r12, closes the
    spatial-dimensions gap: the encode hook finally has a consumer).

    Reference: ``processing/.../filter/SpatialFilter`` + ``RectangularBound``
    / ``RadiusBound`` [recall] — rectangular contains() is inclusive on
    both ends per coordinate; radius is Euclidean distance <= radius.
    Both compile to narrow codegen expressions over the string dim —
    a scan-parallel filter at any scale, and on a layout partitioned by
    a coarse geo prefix the same predicate prunes partitions."""
    bt = bound["type"]
    if bt == "rectangular":
        lo, hi = bound["minCoords"], bound["maxCoords"]
        coords = _spatial_coords(dim, len(lo))
        out = None
        for c, a, b in zip(coords, lo, hi):
            cond = (c >= F.lit(float(a))) & (c <= F.lit(float(b)))
            out = cond if out is None else out & cond
        return out
    if bt == "radius":
        center = bound["coords"]
        r = float(bound["radius"])
        coords = _spatial_coords(dim, len(center))
        d2 = None
        for c, x in zip(coords, center):
            term = (c - F.lit(float(x))) * (c - F.lit(float(x)))
            d2 = term if d2 is None else d2 + term
        return d2 <= F.lit(r * r)
    raise ValueError(f"unsupported spatial bound type: {bt}")


def spatial_cell_column(dim: str, cell_deg: float, n_dims: int = 2) -> Column:
    """Coarse geo-cell id ("<gx>_<gy>", floor-quantized per coordinate)
    for a "lat,lon" spatial dimension — the partition column of the
    spatial layout. Writing ``partitionBy(cell)`` makes every
    spatialFilter read a partition-pruned scan via
    :func:`spatial_cells_for_bound` (the spatial analog of segment
    interval pruning; same shape as the IVF inverted-list layout).

    r13 (ADVICE r12): takes ``n_dims`` so the layout matches the
    filter's n-dimensional contract; the default keeps the 2-D geo
    cell id byte-identical to the r12 layout for well-formed coords.
    A row with ANY malformed/missing coordinate gets a NULL cell id
    (r13 self-review: concat_ws SKIPS null arguments, so the old
    behavior filed a half-parsed "12.0" under cell "0" — a real cell's
    id — instead of the default partition; correctness held because
    neither a covering list nor the row predicate can match such rows,
    but layout tooling that quarantines the default partition would
    have missed them)."""
    coords = _spatial_coords(dim, n_dims)
    cells = [F.floor(c / F.lit(float(cell_deg))).cast("long") for c in coords]
    all_present = None
    for c in coords:
        # finite-only, not just non-NULL (r13 code-review find):
        # try_cast('double') accepts 'NaN'/'Infinity' strings, and Spark's
        # floor->long maps NaN to 0 (a REAL cell) and Inf to Long.MAX (an
        # absurd partition directory) — both must quarantine like any
        # other malformed coordinate (no bound can match them anyway)
        cond = c.isNotNull() & ~F.isnan(c) & (F.abs(c) < F.lit(float("inf")))
        all_present = cond if all_present is None else all_present & cond
    return F.when(all_present, F.concat_ws("_", *cells))


class CoveringTooWide(ValueError):
    """A spatialFilter bound's covering cell enumeration would exceed
    ``max_cells`` (r13): near-full-extent bounds over fine grids should
    skip pruning, not materialize a million-id IN-list. A distinct type
    so callers with a fallback (sources/spatial.py#read_spatial_filtered)
    can catch it WITHOUT swallowing genuine spec errors (mismatched
    dims, unsupported bound type)."""


def spatial_cells_for_bound(
    bound: dict, cell_deg: float, max_cells: int = 100_000
) -> list[str]:
    """The covering cell IN-list for a spatialFilter bound (rectangular
    as-is; radius via its bounding box) — a driver-side computation over
    the bound's constants, O(cells in the box). The list is a SUPERSET
    of the cells containing matching points, so pruning with it before
    the exact row-level predicate never loses a row (covering property
    asserted in tests).

    r13 (ADVICE r12): n-dimensional, matching ``_spatial_bound_column``'s
    contract — a valid 3-D bound used to cover a 3-D cell layout works
    instead of raising an opaque 2-tuple unpack ValueError. Cell ids are
    produced by :func:`spatial_cell_column` with the same ``n_dims``."""
    import itertools
    import math

    bt = bound["type"]
    if bt == "rectangular":
        lo = [float(x) for x in bound["minCoords"]]
        hi = [float(x) for x in bound["maxCoords"]]
        if len(lo) != len(hi):
            raise ValueError(
                f"minCoords has {len(lo)} dims but maxCoords has {len(hi)}"
            )
    elif bt == "radius":
        center = [float(x) for x in bound["coords"]]
        r = float(bound["radius"])
        lo = [c - r for c in center]
        hi = [c + r for c in center]
    else:
        raise ValueError(f"unsupported spatial bound type: {bt}")
    if not lo:
        raise ValueError("spatial bound has no coordinates")
    axes = [
        range(math.floor(a / cell_deg), math.floor(b / cell_deg) + 1)
        for a, b in zip(lo, hi)
    ]
    # r13 (found by the covering-property fuzz): the enumeration is
    # O(product of per-axis cell counts) DRIVER-side — a planet-wide bound
    # over a fine grid would materialize millions of ids and then feed an
    # equally huge IN-list to the planner. Fail loudly with the remedy
    # instead of hanging; a bound this wide shouldn't prune anyway.
    total = math.prod(len(ax) for ax in axes)
    if total > max_cells:
        raise CoveringTooWide(
            f"bound covers {total} cells at cell_deg={cell_deg} "
            f"(max_cells={max_cells}) — coarsen cell_deg or skip pruning "
            "for near-full-extent bounds (an IN-list this wide prunes "
            "nothing and bloats the plan)"
        )
    return ["_".join(str(g) for g in cell) for cell in itertools.product(*axes)]


def _sql_lit(v) -> str:
    if isinstance(v, str):
        escaped = v.replace("'", "''")
        return f"'{escaped}'"
    return repr(v)


def filter_to_sql(spec: dict) -> str:
    """DuckDB SQL predicate equivalent to :func:`filter_to_column`."""
    t = spec["type"]
    if t == "selector":
        return f"{spec['dimension']} = {_sql_lit(spec['value'])}"
    if t == "in":
        vals = ", ".join(_sql_lit(v) for v in spec["values"])
        return f"{spec['dimension']} IN ({vals})"
    if t == "bound":
        col = spec["dimension"]
        if spec.get("ordering") == "numeric":
            col = f"CAST({col} AS DOUBLE)"
        conds = []
        if "lower" in spec:
            op = ">" if spec.get("lowerStrict") else ">="
            conds.append(f"{col} {op} {_sql_lit(spec['lower'])}")
        if "upper" in spec:
            op = "<" if spec.get("upperStrict") else "<="
            conds.append(f"{col} {op} {_sql_lit(spec['upper'])}")
        return "(" + " AND ".join(conds) + ")"
    if t == "regex":
        return f"regexp_matches({spec['dimension']}, {_sql_lit(spec['pattern'])})"
    if t == "and":
        return "(" + " AND ".join(filter_to_sql(f_) for f_ in spec["fields"]) + ")"
    if t == "or":
        return "(" + " OR ".join(filter_to_sql(f_) for f_ in spec["fields"]) + ")"
    if t == "not":
        return f"(NOT {filter_to_sql(spec['field'])})"
    if t == "spatial":
        return _spatial_bound_sql(spec["dimension"], spec["bound"])
    raise ValueError(f"unsupported filter type: {t}")


def _spatial_coord_sql(dim: str, i: int) -> str:
    # DuckDB lists are 1-indexed, same as Spark's element_at
    return f"TRY_CAST(string_split({dim}, ',')[{i + 1}] AS DOUBLE)"


def _sql_double(x: float) -> str:
    """A float literal that reaches DuckDB as the EXACT double (r16 —
    found by the spatial dual-compile fuzz's falsifying example at a
    1-ulp boundary): DuckDB parses a bare decimal literal as
    DECIMAL(w,s), and its DECIMAL→DOUBLE conversion can be one ulp off
    (measured: ``0.9922027587890625`` → ``…624`` via the decimal path,
    while ``CAST('0.9922027587890625' AS DOUBLE)`` is correctly
    rounded — string→double parsing is correctly rounded in both
    engines, same as Python's repr round-trip). Every float literal in
    the spatial SQL twin goes through the VARCHAR cast so boundary
    decisions stay engine-identical at ANY representable bound."""
    return f"CAST('{float(x)!r}' AS DOUBLE)"


def _spatial_bound_sql(dim: str, bound: dict) -> str:
    """DuckDB twin of :func:`_spatial_bound_column` — identical arithmetic
    shape (same term order in the distance sum) AND exact-double literals
    (:func:`_sql_double`) so boundary decisions are engine-identical."""
    bt = bound["type"]
    if bt == "rectangular":
        lo, hi = bound["minCoords"], bound["maxCoords"]
        conds = [
            f"({_spatial_coord_sql(dim, i)} >= {_sql_double(a)}"
            f" AND {_spatial_coord_sql(dim, i)} <= {_sql_double(b)})"
            for i, (a, b) in enumerate(zip(lo, hi))
        ]
        return "(" + " AND ".join(conds) + ")"
    if bt == "radius":
        center = bound["coords"]
        r = float(bound["radius"])
        terms = [
            f"({_spatial_coord_sql(dim, i)} - {_sql_double(x)})"
            f" * ({_spatial_coord_sql(dim, i)} - {_sql_double(x)})"
            for i, x in enumerate(center)
        ]
        return "(" + " + ".join(terms) + f" <= {_sql_double(r * r)})"
    raise ValueError(f"unsupported spatial bound type: {bt}")


# ---------------------------------------------------------------------------
# Aggregators (metricsSpec) — A1..A12
# ---------------------------------------------------------------------------
#
# Oracle-portability policy (SURVEY.md §4.2-3):
#  * integer sums stay in BIGINT (exact in both engines);
#  * double sums are accumulated in DECIMAL(28,6) (exact, order-independent,
#    identical in Spark and DuckDB) and then cast to DOUBLE — this removes
#    float-reassociation nondeterminism from the hash-compared results;
#  * sketch aggregators (hyperUnique / cardinality) ship as exact twins
#    (count distinct — hash-checked) plus approx twins (HLL++ — rows-only).


class Aggregator:
    """One metricsSpec entry. Subclasses render a Spark Column + oracle SQL."""

    name: str

    def column(self) -> Column:
        raise NotImplementedError

    def oracle(self) -> str:
        raise NotImplementedError

    @property
    def field_names(self) -> list[str]:
        return []

    @property
    def sql_checkable(self) -> bool:
        return True


@dataclass(frozen=True)
class Count(Aggregator):
    """`count` — number of input rows in the rollup group (A1)."""

    name: str = "count"

    def column(self) -> Column:
        return F.count(F.lit(1)).alias(self.name)

    def oracle(self) -> str:
        return f"count(*) AS {self.name}"


@dataclass(frozen=True)
class LongSum(Aggregator):
    """`longSum` — sum of the field cast to long (A2).

    Doubles are floored before the cast: Spark truncates double→long while
    DuckDB rounds, so an explicit floor() keeps both engines identical.
    """

    name: str
    fieldName: str

    def column(self) -> Column:
        return F.sum(F.floor(F.col(self.fieldName)).cast("long")).alias(self.name)

    def oracle(self) -> str:
        return f"CAST(sum(CAST(floor({self.fieldName}) AS BIGINT)) AS BIGINT) AS {self.name}"

    @property
    def field_names(self) -> list[str]:
        return [self.fieldName]


@dataclass(frozen=True)
class DoubleSum(Aggregator):
    """`doubleSum` (A3) — accumulated in DECIMAL(28,6), returned as DOUBLE.

    Decimal accumulation is exact and order-independent, so the result is
    bit-identical across engines and across shuffle orders — double
    accumulation is not (float addition does not reassociate).
    """

    name: str
    fieldName: str

    def column(self) -> Column:
        return (
            F.sum(F.col(self.fieldName).cast("decimal(28,6)"))
            .cast("double")
            .alias(self.name)
        )

    def oracle(self) -> str:
        return (
            f"CAST(sum(CAST({self.fieldName} AS DECIMAL(28,6))) AS DOUBLE) AS {self.name}"
        )

    @property
    def field_names(self) -> list[str]:
        return [self.fieldName]


@dataclass(frozen=True)
class LongMin(Aggregator):
    name: str
    fieldName: str

    def column(self) -> Column:
        return F.min(F.floor(F.col(self.fieldName)).cast("long")).alias(self.name)

    def oracle(self) -> str:
        return f"min(CAST(floor({self.fieldName}) AS BIGINT)) AS {self.name}"

    @property
    def field_names(self) -> list[str]:
        return [self.fieldName]


@dataclass(frozen=True)
class LongMax(Aggregator):
    name: str
    fieldName: str

    def column(self) -> Column:
        return F.max(F.floor(F.col(self.fieldName)).cast("long")).alias(self.name)

    def oracle(self) -> str:
        return f"max(CAST(floor({self.fieldName}) AS BIGINT)) AS {self.name}"

    @property
    def field_names(self) -> list[str]:
        return [self.fieldName]


@dataclass(frozen=True)
class DoubleMin(Aggregator):
    name: str
    fieldName: str

    def column(self) -> Column:
        return F.min(F.col(self.fieldName).cast("double")).alias(self.name)

    def oracle(self) -> str:
        return f"min(CAST({self.fieldName} AS DOUBLE)) AS {self.name}"

    @property
    def field_names(self) -> list[str]:
        return [self.fieldName]


@dataclass(frozen=True)
class DoubleMax(Aggregator):
    name: str
    fieldName: str

    def column(self) -> Column:
        return F.max(F.col(self.fieldName).cast("double")).alias(self.name)

    def oracle(self) -> str:
        return f"max(CAST({self.fieldName} AS DOUBLE)) AS {self.name}"

    @property
    def field_names(self) -> list[str]:
        return [self.fieldName]


@dataclass(frozen=True)
class HyperUnique(Aggregator):
    """`hyperUnique` (A6) — HLL distinct count at ingest.

    ``exact=True`` → ``count(distinct)`` twin, hash-checked against the oracle.
    ``exact=False`` → Spark HLL++ (``approx_count_distinct``), rows-only check
    (Druid HLL error ≈2% vs Spark HLL++ rsd 5% — values are not comparable,
    SURVEY.md §4.3).
    """

    name: str
    fieldName: str
    exact: bool = True

    def column(self) -> Column:
        if self.exact:
            return F.count_distinct(F.col(self.fieldName)).alias(self.name)
        return F.approx_count_distinct(self.fieldName).alias(self.name)

    def oracle(self) -> str:
        return f"count(DISTINCT {self.fieldName}) AS {self.name}"

    @property
    def field_names(self) -> list[str]:
        return [self.fieldName]

    @property
    def sql_checkable(self) -> bool:
        return self.exact


@dataclass(frozen=True)
class Cardinality(Aggregator):
    """`cardinality` (A7) — HLL over a tuple of dimensions (byRow=true).

    Exact twin counts distinct concatenated tuples; the concat form is chosen
    because it is expressible identically in Spark and DuckDB SQL.
    """

    name: str
    fieldNames: Sequence[str]
    exact: bool = True

    def _tuple_col(self) -> Column:
        return F.concat_ws("\x1f", *[F.col(f).cast("string") for f in self.fieldNames])

    def column(self) -> Column:
        if self.exact:
            return F.count_distinct(self._tuple_col()).alias(self.name)
        return F.approx_count_distinct(self._tuple_col()).alias(self.name)

    def oracle(self) -> str:
        parts = " || chr(31) || ".join(f"CAST({f} AS VARCHAR)" for f in self.fieldNames)
        return f"count(DISTINCT ({parts})) AS {self.name}"

    @property
    def field_names(self) -> list[str]:
        return list(self.fieldNames)

    @property
    def sql_checkable(self) -> bool:
        return self.exact


@dataclass(frozen=True)
class Filtered(Aggregator):
    """`filtered` (A8) — wraps another aggregator behind a Druid filter."""

    filter: dict
    aggregator: Aggregator

    @property
    def name(self) -> str:  # type: ignore[override]
        return self.aggregator.name

    def column(self) -> Column:
        inner = self.aggregator
        cond = filter_to_column(self.filter)
        if isinstance(inner, Count):
            return F.count(F.when(cond, F.lit(1))).alias(inner.name)
        if isinstance(inner, (LongSum, DoubleSum, LongMin, LongMax, DoubleMin, DoubleMax)):
            src = F.when(cond, F.col(inner.fieldName))
            if isinstance(inner, LongSum):
                return F.sum(F.floor(src).cast("long")).alias(inner.name)
            if isinstance(inner, DoubleSum):
                return F.sum(src.cast("decimal(28,6)")).cast("double").alias(inner.name)
            if isinstance(inner, LongMin):
                return F.min(F.floor(src).cast("long")).alias(inner.name)
            if isinstance(inner, LongMax):
                return F.max(F.floor(src).cast("long")).alias(inner.name)
            if isinstance(inner, DoubleMin):
                return F.min(src.cast("double")).alias(inner.name)
            return F.max(src.cast("double")).alias(inner.name)
        raise ValueError(f"filtered() does not wrap {type(inner).__name__}")

    def oracle(self) -> str:
        cond = filter_to_sql(self.filter)
        inner = self.aggregator
        if isinstance(inner, Count):
            return f"count(CASE WHEN {cond} THEN 1 END) AS {inner.name}"
        f_ = f"CASE WHEN {cond} THEN {inner.fieldName} END"
        if isinstance(inner, LongSum):
            return f"CAST(sum(CAST(floor({f_}) AS BIGINT)) AS BIGINT) AS {inner.name}"
        if isinstance(inner, DoubleSum):
            return f"CAST(sum(CAST({f_} AS DECIMAL(28,6))) AS DOUBLE) AS {inner.name}"
        if isinstance(inner, LongMin):
            return f"min(CAST(floor({f_}) AS BIGINT)) AS {inner.name}"
        if isinstance(inner, LongMax):
            return f"max(CAST(floor({f_}) AS BIGINT)) AS {inner.name}"
        if isinstance(inner, DoubleMin):
            return f"min(CAST({f_} AS DOUBLE)) AS {inner.name}"
        return f"max(CAST({f_} AS DOUBLE)) AS {inner.name}"

    @property
    def field_names(self) -> list[str]:
        return self.aggregator.field_names


# ---------------------------------------------------------------------------
# Granularity spec + the full ingest spec
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class GranularitySpec:
    """segmentGranularity / queryGranularity / rollup switch (T1/T2/A12)."""

    segment_granularity: Union[str, Granularity] = "HOUR"
    query_granularity: Union[str, Granularity] = "NONE"
    rollup: bool = True

    def __post_init__(self):
        if isinstance(self.segment_granularity, str):
            object.__setattr__(self, "segment_granularity", Granularity(self.segment_granularity))
        if isinstance(self.query_granularity, str):
            object.__setattr__(self, "query_granularity", Granularity(self.query_granularity))


@dataclass(frozen=True)
class IngestSpec:
    """The full dataSchema analog (reference: ``DataSourceConfig`` +
    ``DruidBeams#fromConfig`` — SURVEY.md §1.2)."""

    datasource: str
    timestamp_spec: TimestampSpec
    dimensions_spec: DimensionsSpec
    metrics: Sequence[Aggregator] = field(default_factory=tuple)
    granularity_spec: GranularitySpec = field(default_factory=GranularitySpec)

    def validate(self) -> None:
        """Dimension/metric/timestamp name-collision check.

        Reference: ``DruidRollup#validate`` throws on collisions.
        """
        dims = list(self.dimensions_spec.dimensions or [])
        metric_names = [m.name for m in self.metrics]
        seen: set[str] = set()
        for n in dims + metric_names + [self.timestamp_spec.output]:
            if n in seen:
                raise ValueError(f"name collision in spec: {n!r}")
            seen.add(n)


# ---------------------------------------------------------------------------
# Druid ingestion-spec JSON → IngestSpec (the daemon config path)
# ---------------------------------------------------------------------------

_AGG_PARSERS = {}


def _parse_aggregator(spec: dict) -> Aggregator:
    """One metricsSpec entry → Aggregator (A1–A12 type names)."""
    t = spec["type"]
    name = spec.get("name", t)
    fn = spec.get("fieldName")
    if t == "count":
        return Count(name)
    if t == "longSum":
        return LongSum(name, fn)
    if t == "doubleSum":
        return DoubleSum(name, fn)
    if t == "longMin":
        return LongMin(name, fn)
    if t == "longMax":
        return LongMax(name, fn)
    if t == "doubleMin":
        return DoubleMin(name, fn)
    if t == "doubleMax":
        return DoubleMax(name, fn)
    if t in ("hyperUnique", "thetaSketch"):
        # approx sketches map to the HLL twin pair; exact=False is the
        # faithful (approximate) reading — callers wanting the hash-checked
        # twin flip `exact` after parse
        return HyperUnique(name, fn, exact=False)
    if t == "cardinality":
        return Cardinality(name, tuple(spec.get("fieldNames", ())), exact=False)
    if t == "filtered":
        return Filtered(
            filter=spec["filter"], aggregator=_parse_aggregator(spec["aggregator"])
        )
    raise ValueError(f"unsupported metricsSpec type: {t!r}")


def parse_druid_spec(spec: dict) -> IngestSpec:
    """Parse a Druid ingestion spec (the JSON a tranquility daemon consumes).

    Reference: ``core/.../config/DataSourceConfig.scala`` +
    ``DruidBeams#fromConfig`` (SURVEY.md §1.2) — reads
    ``dataSchema.parser.parseSpec.{timestampSpec, dimensionsSpec}``,
    ``dataSchema.metricsSpec`` and ``dataSchema.granularitySpec``. Accepts
    both the nested ``parser.parseSpec`` layout and the flattened modern
    layout (``timestampSpec``/``dimensionsSpec`` directly under dataSchema).
    """
    ds = spec.get("dataSchema", spec)
    parse_spec = ds.get("parser", {}).get("parseSpec", ds)

    ts = parse_spec.get("timestampSpec", {})
    timestamp_spec = TimestampSpec(
        column=ts.get("column", "timestamp"), format=ts.get("format", "auto")
    )

    dims = parse_spec.get("dimensionsSpec", {})
    dimensions = dims.get("dimensions")
    if dimensions is not None:
        # Druid allows {"type": "string", "name": ...} dicts alongside names
        dimensions = tuple(d["name"] if isinstance(d, dict) else d for d in dimensions)
    dimensions_spec = DimensionsSpec(
        dimensions=dimensions,
        exclusions=tuple(dims.get("dimensionExclusions", ())),
        spatial_dimensions=tuple(
            (sd["dimName"], tuple(sd["dims"]))
            for sd in dims.get("spatialDimensions", ())
        ),
    )

    metrics = tuple(_parse_aggregator(m) for m in ds.get("metricsSpec", ()))

    gran = ds.get("granularitySpec", {})
    granularity_spec = GranularitySpec(
        segment_granularity=gran.get("segmentGranularity", "HOUR"),
        query_granularity=gran.get("queryGranularity", "NONE"),
        rollup=gran.get("rollup", True),
    )

    return IngestSpec(
        datasource=ds.get("dataSource", "default"),
        timestamp_spec=timestamp_spec,
        dimensions_spec=dimensions_spec,
        metrics=metrics,
        granularity_spec=granularity_spec,
    )
