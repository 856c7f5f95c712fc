"""Declared GDELT 2.0 event schema — fixed, never inferred.

Mirrors the reference's declared 58-column schema and its numeric-column set
(reference: ``config/settings.example.yaml:8-92``, consumed at
``conversion/converter.py:67`` / ``:212-233``). The reference reads CSVs
headerless as all-string then coerces the 22 numeric columns with
``pd.to_numeric(errors="coerce")``; Spark's ``cast`` has the same
malformed→NULL semantics, so ingest declares strings and casts.

Type policy (SURVEY.md §1.2): identifier/date-int columns → LongType,
measures/coordinates → DoubleType, everything else → StringType. Spark ints
are nullable natively, so the reference's Int64-vs-float64 consistency dance
(``converter.py:246-250``) disappears.
"""

from __future__ import annotations

from pyspark.sql import types as T

#: All 58 GDELT 2.0 event columns, in CSV order.
GDELT_COLUMNS: tuple[str, ...] = (
    "GlobalEventID", "Day", "MonthYear", "Year", "FractionDate",
    "Actor1Code", "Actor1Name", "Actor1CountryCode", "Actor1KnownGroupCode",
    "Actor1EthnicCode", "Actor1Religion1Code", "Actor1Religion2Code",
    "Actor1Type1Code", "Actor1Type2Code", "Actor1Type3Code",
    "Actor2Code", "Actor2Name", "Actor2CountryCode", "Actor2KnownGroupCode",
    "Actor2EthnicCode", "Actor2Religion1Code", "Actor2Religion2Code",
    "Actor2Type1Code", "Actor2Type2Code", "Actor2Type3Code",
    "IsRootEvent", "EventCode", "EventBaseCode", "EventRootCode", "QuadClass",
    "GoldsteinScale", "NumMentions", "NumSources", "NumArticles", "AvgTone",
    "Actor1Geo_Type", "Actor1Geo_FullName", "Actor1Geo_CountryCode",
    "Actor1Geo_ADM1Code", "Actor1Geo_Lat", "Actor1Geo_Long",
    "Actor1Geo_FeatureID",
    "Actor2Geo_Type", "Actor2Geo_FullName", "Actor2Geo_CountryCode",
    "Actor2Geo_ADM1Code", "Actor2Geo_Lat", "Actor2Geo_Long",
    "Actor2Geo_FeatureID",
    "ActionGeo_Type", "ActionGeo_FullName", "ActionGeo_CountryCode",
    "ActionGeo_ADM1Code", "ActionGeo_Lat", "ActionGeo_Long",
    "ActionGeo_FeatureID",
    "DATEADDED", "SOURCEURL",
)

#: Columns the reference coerces numerically (settings.example.yaml:70-92).
NUMERIC_COLUMNS: frozenset[str] = frozenset({
    "GlobalEventID", "Day", "MonthYear", "Year", "FractionDate", "IsRootEvent",
    "QuadClass", "GoldsteinScale", "NumMentions", "NumSources", "NumArticles",
    "AvgTone", "Actor1Geo_Type", "Actor1Geo_Lat", "Actor1Geo_Long",
    "Actor2Geo_Type", "Actor2Geo_Lat", "Actor2Geo_Long", "ActionGeo_Type",
    "ActionGeo_Lat", "ActionGeo_Long", "DATEADDED",
})

#: Integer-valued numeric columns → LongType; the rest of NUMERIC_COLUMNS → Double.
LONG_COLUMNS: frozenset[str] = frozenset({
    "GlobalEventID", "Day", "MonthYear", "Year", "IsRootEvent", "QuadClass",
    "NumMentions", "NumSources", "NumArticles", "Actor1Geo_Type",
    "Actor2Geo_Type", "ActionGeo_Type", "DATEADDED",
})

#: Default Hive partition rules (settings.example.yaml:143-149).
DEFAULT_PARTITION_RULES: dict[str, list[str]] = {
    "yearly": ["Year"],
    "monthly": ["Year", "MonthYear"],
}


def gdelt_csv_schema() -> T.StructType:
    """Raw-read schema: all strings, exactly as the reference reads CSVs
    (``converter.py:214-223``, ``dtype=str``); typed casts happen after."""
    return T.StructType(
        [T.StructField(c, T.StringType(), nullable=True) for c in GDELT_COLUMNS]
    )
