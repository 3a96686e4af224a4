"""keys.geocode semantics, pinned row for row against the DuckDB oracle's
geocode (regexp_extract + TRY_CAST of the same pattern).

The rows cover the edges where a regex engine or an integer cast can
differ: no marker, null text, two markers, non-ASCII digits, a value above
2^53 that float64 would round, and a marker too long for a long (which the
session's ANSI mode turns into a job failure unless the cast is a try)."""

import duckdb

from avecado_spark.operators.keys import _GEO_RE, geocode

ROWS = [
    (1, "a page geo:mxm=123;mym=-456 about a place"),
    (2, "a page with no marker"),
    (3, None),
    (4, "geo:mxm=7;mym=8 and later geo:mxm=9;mym=10"),
    (5, "geo:mxm=١٢;mym=٣"),  # Arabic-Indic 12 and 3
    (6, f"geo:mxm={2**53 + 1};mym=-{2**53 + 1}"),
    (7, "geo:mxm=12345678901234567890;mym=1"),  # 20 digits > 2^63
]

EXPECTED = [(1, 123, -456), (4, 7, 8), (6, 2**53 + 1, -(2**53 + 1))]


def _duckdb_geocode():
    con = duckdb.connect()
    con.execute("CREATE TABLE pages (id INTEGER, text VARCHAR)")
    con.executemany("INSERT INTO pages VALUES (?, ?)", ROWS)
    return con.execute(f"""
      SELECT id, mx_mm, my_mm FROM (
        SELECT id,
               TRY_CAST(regexp_extract(text, '{_GEO_RE}', 1) AS BIGINT) AS mx_mm,
               TRY_CAST(regexp_extract(text, '{_GEO_RE}', 2) AS BIGINT) AS my_mm
        FROM pages)
      WHERE mx_mm IS NOT NULL AND my_mm IS NOT NULL
      ORDER BY id""").fetchall()


def test_geocode_matches_duckdb_row_for_row(spark):
    pages = spark.createDataFrame(ROWS, "id int, text string")
    out = geocode(pages)
    assert out.columns == ["id", "text", "mx_mm", "my_mm"]
    got = [(r.id, r.mx_mm, r.my_mm)
           for r in out.orderBy("id").select("id", "mx_mm", "my_mm").collect()]
    assert got == _duckdb_geocode() == EXPECTED
