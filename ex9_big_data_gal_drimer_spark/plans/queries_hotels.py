"""The six reference queries, ORIGINAL hotels-domain form, registered
in the driver correctness gate (round-2 verdict ask #5).

The driver's testdata has no hotels table, so these run on the
committed seeded fixture ``data/hotels.csv`` (sources.hotels_fixture;
regenerable bit-for-bit).  The Spark side reads it through the
engine's error-tolerant multiLine CSV source and applies
plans.hotels.HOTEL_QUERIES — the exact reference semantics
(main.py:18-159) including the q2 ``IN ('FiveStar','All')`` quirk and
q5's count-of-NAMES.  The oracle side is the reference's own SQL text
over a DuckDB read_csv of the *identical file*, making the
reference-parity claim externally verifiable.

The ``sf_dir`` argument is ignored by design: the hotels fixture is a
fixed reference-parity input, not a scale-factor table.  (The 100 TB
story for CSV ingest is ingest_csv_to_parquet — land once, partition
by country, query parquet; multiLine CSV is unsplittable and only
acceptable for a dimension-sized file like this one.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..catalog import session_memo
from ..sources.csv import read_hotels_csv
from ..sources.hotels_fixture import FIXTURE_PATH, duckdb_read_csv
from .hotels import HOTEL_QUERIES
from .registry import register

#: Oracle SQL per query over a relation named `hotels` — the reference
#: main.py:18-159 texts with DuckDB's HUGEINT sums cast back to BIGINT.
#: Bodies either open with their own CTE list (joined onto the hotels
#: CTE) or are plain SELECTs.
HOTEL_ORACLE_BODIES: dict[str, str] = {
    "hotels_q1": """
        county AS (
            SELECT countyName,
                   COUNT(DISTINCT HotelCode) AS num_hotels,
                   ROUND(AVG(CASE WHEN HotelRating='OneStar' THEN 1
                                  WHEN HotelRating='TwoStar' THEN 2
                                  WHEN HotelRating='ThreeStar' THEN 3
                                  WHEN HotelRating='FourStar' THEN 4
                                  WHEN HotelRating='FiveStar' THEN 5 END), 2) AS avg_rating
            FROM hotels WHERE HotelRating NOT IN ('All')
            GROUP BY countyName
        ), total AS (SELECT CAST(SUM(num_hotels) AS BIGINT) AS world_total_hotels FROM county)
        SELECT countyName, num_hotels, avg_rating,
               ROUND(num_hotels * 100.0 / world_total_hotels, 2) AS pct_of_world
        FROM county, total ORDER BY num_hotels DESC, countyName
    """,
    "hotels_q2": """
        county AS (
            SELECT countyName, COUNT(DISTINCT HotelCode) AS num_luxury_hotels
            FROM hotels WHERE HotelRating IN ('FiveStar', 'All')
            GROUP BY countyName
        ), total AS (SELECT CAST(SUM(num_luxury_hotels) AS BIGINT)
                     AS total_luxury_hotels_worldwide FROM county)
        SELECT countyName, num_luxury_hotels,
               ROUND(num_luxury_hotels * 100.0 / total_luxury_hotels_worldwide, 2)
                   AS pct_of_world_luxury,
               total_luxury_hotels_worldwide
        FROM county, total ORDER BY num_luxury_hotels DESC, countyName
    """,
    "hotels_q3": """
        SELECT COUNT(DISTINCT CASE WHEN LOWER(HotelWebsiteUrl) LIKE '%booking%'
                                   THEN HotelCode END) AS hotels_with_booking,
               COUNT(DISTINCT HotelCode) AS total_hotels,
               COUNT(DISTINCT CASE WHEN HotelWebsiteUrl IS NOT NULL
                                   THEN HotelCode END) AS hotels_with_urls,
               ROUND(COUNT(DISTINCT CASE WHEN LOWER(HotelWebsiteUrl) LIKE '%booking%'
                                         THEN HotelCode END) * 100.0
                     / COUNT(DISTINCT HotelCode), 2) AS pct_of_all_hotels,
               ROUND(COUNT(DISTINCT CASE WHEN LOWER(HotelWebsiteUrl) LIKE '%booking%'
                                         THEN HotelCode END) * 100.0
                     / COUNT(DISTINCT CASE WHEN HotelWebsiteUrl IS NOT NULL
                                           THEN HotelCode END), 2)
                   AS pct_of_hotels_with_urls
        FROM hotels
    """,
    "hotels_q4": """
        county AS (
            SELECT countyName, COUNT(DISTINCT HotelCode) AS num_hotels
            FROM hotels GROUP BY countyName
        )
        SELECT countyName, num_hotels,
               RANK() OVER (ORDER BY num_hotels DESC) AS rank_in_world,
               ROUND(100.0 * num_hotels /
                     FIRST_VALUE(num_hotels) OVER (ORDER BY num_hotels DESC), 2)
                   AS pct_of_top
        FROM county ORDER BY rank_in_world, countyName
    """,
    "hotels_q5": """
        base AS (
            SELECT countyName, HotelName,
                   LENGTH(Attractions) - LENGTH(REPLACE(Attractions, ',', '')) + 1
                       AS num_attractions
            FROM hotels
            WHERE HotelRating = 'FiveStar' AND TRIM(Attractions) != ''
        )
        SELECT countyName,
               COUNT(DISTINCT HotelName) AS num_five_star_hotels,
               CAST(SUM(num_attractions) AS BIGINT) AS total_attractions,
               ROUND(AVG(num_attractions), 2) AS avg_attractions_per_hotel
        FROM base GROUP BY countyName
        ORDER BY total_attractions DESC, countyName LIMIT 10
    """,
    "hotels_q6": """
        county AS (
            SELECT countyName,
                   COUNT(DISTINCT HotelCode) AS num_hotels,
                   COUNT(DISTINCT cityName) AS total_cities
            FROM hotels WHERE TRIM(cityName) != ''
            GROUP BY countyName
        )
        SELECT countyName, num_hotels, total_cities,
               ROUND(1.0 * num_hotels / total_cities, 2) AS hotels_per_city
        FROM county WHERE total_cities > 0
        ORDER BY hotels_per_city DESC, countyName LIMIT 10
    """,
}


def build_hotel_oracles(csv_path) -> dict[str, str]:
    """Full DuckDB SQL per query, with `hotels` defined as a CTE over
    read_csv of ``csv_path`` — shared by the driver registration (the
    committed fixture) and the local parity test (its tmp fixture)."""
    out = {}
    for name, body in HOTEL_ORACLE_BODIES.items():
        stripped = body.strip()
        glue = " " if stripped.upper().startswith("SELECT") else ", "
        out[name] = (
            f"WITH hotels AS (SELECT * FROM {duckdb_read_csv(csv_path)})"
            f"{glue}{stripped}"
        )
    return out


def _hotels_table(spark: SparkSession) -> DataFrame:
    """The cached fixture parse.  The fixture CSV is an INPUT table (the
    flagship six's only source), so its cache is the same suite
    amortization as catalog.cache_tables — a session memo so .cache()
    is called once, not once per construction (every repeat call
    WARNed "already cached" — round-14), and dropped with the cache by
    release_caches."""
    return session_memo(
        spark,
        ("hotels_csv",),
        lambda: read_hotels_csv(spark, str(FIXTURE_PATH)).cache(),
    )


def _register_all() -> None:
    oracles = build_hotel_oracles(FIXTURE_PATH)
    for name, plan in HOTEL_QUERIES.items():

        def fn(spark: SparkSession, sf_dir: str, _plan=plan) -> DataFrame:
            # One shared parse of the (unsplittable multiLine) CSV —
            # an input-table cache, exactly like the testdata tables.
            return _plan(_hotels_table(spark))

        fn.__name__ = name
        fn.__doc__ = plan.__doc__
        register(name, oracle=oracles[name])(fn)


_register_all()
