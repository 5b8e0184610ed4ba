"""Output checks, all run outside the timed region.

Per op: task statuses, the silver count and the ``gold_kpi_summary`` row
against the generator's expected values (``op_errors``), or, for a page
load, the KPI cards and report sections of the page (``page_errors``).

Once per run: every silver row against the generator, the six gold tables
recomputed by DuckDB from the silver files, the silver watermark, and the
nine reports recomputed by DuckDB from the warehouse files (their rows where
the reports are the op, their row counts from the pipeline's dashboard task
where they are not).

Every check returns a list of error strings; empty means correct. Float
columns the program rounds are compared with the rounding's half-step as
tolerance, because DuckDB and Spark may round a tie differently.
"""

from __future__ import annotations

import calendar
import hashlib
import html
import math
from datetime import date, datetime
from decimal import Decimal

import duckdb

import gen

GOLD_TABLES = (
    "gold_regional_risk", "gold_temporal_metrics", "gold_kpi_summary",
    "gold_region_summary", "gold_physics_analysis", "gold_regional_physics",
)
REPORTS = (
    "events_by_region", "significant_event_map", "daily_trend",
    "magnitude_distribution", "damage_potential_summary",
    "regional_tsunami_risk", "recent_major_events", "monthly_trends",
    "watermark_status",
)
KPI_CARDS = ("total_earthquakes", "critical_events", "high_risk_events", "tsunami_events",
             "max_magnitude", "avg_magnitude", "active_regions")


# -- value normalisation -----------------------------------------------------


def _norm(v):
    """Timestamps → epoch ms, dates → ISO text; everything else unchanged."""
    if isinstance(v, datetime):
        if v.tzinfo is not None:
            return int(v.timestamp() * 1000)
        return calendar.timegm(v.timetuple()) * 1000 + v.microsecond // 1000
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, Decimal):
        return float(v)
    return v


def _close(actual, expected, places: int | None) -> bool:
    if expected is None or actual is None:
        return actual is None and expected is None
    if isinstance(expected, float) or isinstance(actual, float):
        if places is None:
            return math.isclose(actual, expected, rel_tol=1e-9, abs_tol=1e-9)
        return abs(actual - expected) <= 0.5 * 10.0 ** -places + 1e-9 * max(1.0, abs(expected))
    return actual == expected


def compare(name: str, actual: list[dict], expected: list[dict], key: tuple[str, ...],
            places: dict[str, int | None] | None = None, *, ordered: bool = False) -> list[str]:
    """Row sets equal on ``key``; every column of ``expected`` matches.
    ``places`` maps a float column to the decimals the program rounds it
    to (None: not rounded). ``ordered`` also requires the same row order."""
    places = places or {}
    errs: list[str] = []
    if len(actual) != len(expected):
        errs.append(f"{name}: {len(actual)} rows, expected {len(expected)}")
    a = {tuple(_norm(r[k]) for k in key): r for r in actual}
    e = {tuple(_norm(r[k]) for k in key): r for r in expected}
    if ordered:
        ak = [tuple(_norm(r[k]) for k in key) for r in actual]
        ek = [tuple(_norm(r[k]) for k in key) for r in expected]
        if ak != ek:
            errs.append(f"{name}: row order differs")
    for k in sorted(set(e) - set(a), key=repr)[:3]:
        errs.append(f"{name}: missing row {k}")
    for k in sorted(set(a) - set(e), key=repr)[:3]:
        errs.append(f"{name}: unexpected row {k}")
    for k in sorted(set(a) & set(e), key=repr):
        for col, ev in e[k].items():
            av = _norm(a[k].get(col))
            if not _close(av, _norm(ev), places.get(col)):
                errs.append(f"{name}{list(k)}.{col} = {av!r}, expected {_norm(ev)!r}")
                if len(errs) > 10:
                    return errs
    return errs


def digest(rows: list[dict]) -> str:
    """Order-free digest of rows, for logs."""
    lines = sorted(repr(sorted((k, _norm(v)) for k, v in r.items())) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


# -- DuckDB over the warehouse files -----------------------------------------


def connect(wh_root: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in ("silver_earthquakes", "control_watermark", *GOLD_TABLES):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                    f"'{wh_root}/{t}/**/*.parquet', hive_partitioning = false)")
    return con


def _rows(con, sql: str) -> list[dict]:
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return [dict(zip(cols, r)) for r in cur.fetchall()]


def _table(con, name: str) -> list[dict]:
    """All rows of a warehouse table, timestamps as epoch ms."""
    ts = [c for c, typ, *_ in con.execute(f"DESCRIBE {name}").fetchall()
          if typ.startswith("TIMESTAMP")]
    repl = f" REPLACE ({', '.join(f'epoch_ms({c}) AS {c}' for c in ts)})" if ts else ""
    return _rows(con, f"SELECT *{repl} FROM {name}")


def table_digest(con, name: str) -> str:
    """Order-free digest of a warehouse table, for logs."""
    return con.execute(f"SELECT md5(string_agg(CAST(t AS VARCHAR), ',' ORDER BY CAST(t AS VARCHAR)))"
                       f" FROM {name} t").fetchone()[0][:16]


def silver_count(con) -> int:
    return con.execute("SELECT count(*) FROM silver_earthquakes").fetchone()[0]


def kpi_row(con) -> dict:
    rows = _table(con, "gold_kpi_summary")
    return rows[0] if len(rows) == 1 else {}


# -- silver and KPI against the generator -------------------------------------


def resolve(exp: gen.Expected, con) -> tuple[list[gen.Event], list[str]]:
    """The silver versions, with each same-batch tie resolved to the version
    silver holds. Errors if silver holds none of the tied versions."""
    errs: list[str] = []
    events = list(exp.fixed.values())
    if exp.tied:
        held = {r["event_id"]: (r["magnitude"], r["depth_km"]) for r in _rows(
            con, "SELECT event_id, magnitude, depth_km FROM silver_earthquakes")}
        for eid, versions in exp.tied.items():
            pick = [v for v in versions if (v.magnitude, v.depth_km) == held.get(eid)]
            if not pick:
                errs.append(f"silver {eid}: holds {held.get(eid)}, not one of its versions")
            events.append(pick[0] if pick else versions[0])
    return events, errs


def kpi_errors(actual: dict, expected: dict) -> list[str]:
    errs = []
    for col, ev in expected.items():
        av = actual.get(col)
        if isinstance(ev, set):
            ok = av in ev
        elif isinstance(ev, float):
            ok = av is not None and math.isclose(av, ev, rel_tol=1e-9)
        else:
            ok = _norm(av) == _norm(ev)
        if not ok:
            errs.append(f"gold_kpi_summary.{col} = {av!r}, expected {ev!r}")
    return errs


def silver_errors(con, events: list[gen.Event], processed_ms: dict[str, int]) -> list[str]:
    """Every silver row against the generator's model of it; ``processed_ms``
    maps each event to the clock of the run that merged it."""
    actual = _rows(con, """
        SELECT event_id, tectonic_region, magnitude, depth_km,
               epoch_ms(event_time) AS event_time_ms, risk_level, depth_category,
               tsunami_potential, energy_joules, epoch_ms(processed_ts) AS processed_ms
        FROM silver_earthquakes""")
    expected = [{"event_id": e.event_id, **e.silver_row(),
                 "processed_ms": processed_ms[e.event_id]} for e in events]
    return compare("silver_earthquakes", actual, expected, ("event_id",))


def op_errors(results, exp: gen.Expected, kpi: dict, con) -> list[str]:
    """One daily run: statuses, rows merged, silver count, KPI row."""
    errs = [f"task {r.name}: {r.status} {r.detail!r}"[:300]
            for r in results if r.status != "SUCCESS"]
    detail = {r.name: r.detail for r in results}
    if detail.get("silver_transformation") != exp.increment:
        errs.append(f"silver merged {detail.get('silver_transformation')!r} rows, "
                    f"expected {exp.increment}")
    n = silver_count(con)
    if n != exp.silver_count:
        errs.append(f"silver holds {n} rows, expected {exp.silver_count}")
    return errs + kpi_errors(kpi_row(con), kpi)


def _card(v) -> str:
    if isinstance(v, float):
        return f"{v:,.3f}".rstrip("0").rstrip(".")
    return f"{v:,}"


def page_errors(page: str, kpi: dict) -> list[str]:
    """One page load: every report section and the KPI card values."""
    errs = [f"page lacks report {name}" for name in REPORTS
            if f"<h2>{html.escape(name)}</h2>" not in page]
    for col in KPI_CARDS:
        values = kpi[col] if isinstance(kpi[col], set) else {kpi[col]}
        if not any(f'<div class="num">{html.escape(_card(v))}</div>' in page for v in values):
            errs.append(f"page lacks KPI card {col} = {kpi[col]!r}")
    return errs


# -- gold and reports against DuckDB -------------------------------------------


def _risk_band(score: float) -> str:
    for lo, label in ((100.0, "CRITICAL"), (50.0, "HIGH"), (20.0, "MODERATE"), (5.0, "LOW")):
        if score >= lo:
            return label
    return "MINIMAL"


def _mmi_bands(mmi: float) -> tuple[str, str]:
    scale = next((s for lo, s in ((10, "X+ (Extreme)"), (8, "VIII-IX (Severe)"),
                                  (6, "VI-VII (Strong)"), (4, "IV-V (Moderate)"),
                                  (2, "II-III (Weak)")) if mmi >= lo), "I (Not Felt)")
    damage = next((s for lo, s in ((8, "EXTREME"), (6, "HIGH"), (4, "MODERATE"), (2, "LOW"))
                   if mmi >= lo), "MINIMAL")
    return scale, damage


_COUNTS = """count(*) FILTER (WHERE risk_level = 'CRITICAL') AS {c},
             count(*) FILTER (WHERE risk_level = 'HIGH') AS {h},
             count(*) FILTER (WHERE tsunami_potential) AS {t}"""


def gold_errors(con, clock_ms: int) -> list[str]:
    """The six gold tables against DuckDB over the silver files."""
    errs: list[str] = []
    spark = {t: _table(con, t) for t in GOLD_TABLES}
    for t, rows in spark.items():
        ts_col = "refresh_ts" if t == "gold_kpi_summary" else (
            "physics_calculated_ts" if t == "gold_physics_analysis" else "calculated_ts")
        if any(_norm(r[ts_col]) != clock_ms for r in rows):
            errs.append(f"{t}.{ts_col} is not the run's clock")

    risk = _rows(con, f"""
        SELECT tectonic_region, region_name, year, month, count(*) AS total_events,
               avg(magnitude) AS avg_magnitude, max(magnitude) AS max_magnitude,
               min(magnitude) AS min_magnitude,
               coalesce(stddev_samp(magnitude), 0) AS stddev_magnitude,
               avg(depth_km) AS avg_depth_km,
               count(*) FILTER (WHERE depth_category = 'SHALLOW') AS shallow_count,
               count(*) FILTER (WHERE depth_category = 'INTERMEDIATE') AS intermediate_count,
               count(*) FILTER (WHERE depth_category = 'DEEP') AS deep_count,
               {_COUNTS.format(c='critical_count', h='high_risk_count', t='tsunami_count')},
               count(*) FILTER (WHERE risk_level = 'MODERATE') AS moderate_count,
               sum(energy_joules) AS total_energy_joules
        FROM silver_earthquakes GROUP BY ALL""")
    for r in risk:
        r["risk_score"] = (r["critical_count"] * 50 + r["high_risk_count"] * 20
                           + r["moderate_count"] * 5 + r["max_magnitude"] * 10)
    errs += compare("gold_regional_risk", spark["gold_regional_risk"], risk,
                    ("tectonic_region", "year", "month"),
                    {"avg_magnitude": 3, "max_magnitude": 2, "min_magnitude": 2,
                     "stddev_magnitude": 3, "avg_depth_km": 2, "total_energy_joules": 2,
                     "risk_score": 2})
    errs += [f"gold_regional_risk[{r['tectonic_region']}, {r['year']}, {r['month']}]"
             f".risk_level {r['risk_level']} disagrees with its score"
             for r in spark["gold_regional_risk"] if r["risk_level"] != _risk_band(r["risk_score"])]

    temporal = _rows(con, f"""
        WITH daily AS (
            SELECT CAST(event_time AT TIME ZONE 'UTC' AS DATE) AS event_date,
                   count(*) AS total_events, avg(magnitude) AS avg_magnitude,
                   max(magnitude) AS max_magnitude,
                   count(DISTINCT tectonic_region) AS active_regions,
                   {_COUNTS.format(c='critical_events', h='high_risk_events', t='tsunami_events')},
                   sum(energy_joules) AS total_energy
            FROM silver_earthquakes GROUP BY 1)
        SELECT *, year(event_date) AS year, month(event_date) AS month,
               sum(total_events) OVER (ORDER BY event_date ROWS BETWEEN 6 PRECEDING
                                       AND CURRENT ROW) AS rolling_7d_count,
               sum(total_events) OVER (ORDER BY event_date ROWS BETWEEN 29 PRECEDING
                                       AND CURRENT ROW) AS rolling_30d_count
        FROM daily""")
    for r in temporal:
        r["rolling_7d_count"] = int(r["rolling_7d_count"])
        r["rolling_30d_count"] = int(r["rolling_30d_count"])
        r["is_anomaly"] = (r["rolling_7d_count"] > 0
                           and r["total_events"] > r["rolling_7d_count"] / 7 * 2)
    errs += compare("gold_temporal_metrics", spark["gold_temporal_metrics"], temporal,
                    ("event_date",),
                    {"avg_magnitude": 3, "max_magnitude": 2, "total_energy": 2})

    kpi = _rows(con, f"""
        SELECT count(*) AS total_earthquakes, avg(magnitude) AS avg_magnitude,
               max(magnitude) AS max_magnitude, min(magnitude) AS min_magnitude,
               count(DISTINCT tectonic_region) AS active_regions,
               {_COUNTS.format(c='critical_events', h='high_risk_events', t='tsunami_events')},
               sum(energy_joules) AS total_energy_joules, avg(depth_km) AS avg_depth_km,
               epoch_ms(min(event_time)) AS data_start, epoch_ms(max(event_time)) AS data_end
        FROM silver_earthquakes""")
    errs += compare("gold_kpi_summary", spark["gold_kpi_summary"], kpi, ("total_earthquakes",),
                    {"avg_magnitude": 2, "total_energy_joules": 2, "avg_depth_km": 1})

    region = _rows(con, f"""
        SELECT *, dense_rank() OVER (ORDER BY critical_events DESC, total_events DESC,
                                     tectonic_region) AS risk_rank
        FROM (SELECT tectonic_region, region_name, count(*) AS total_events,
                     avg(magnitude) AS avg_magnitude, max(magnitude) AS max_magnitude,
                     {_COUNTS.format(c='critical_events', h='high_risk_events', t='tsunami_events')},
                     avg(latitude) AS center_lat, avg(longitude) AS center_lon
              FROM silver_earthquakes GROUP BY ALL)""")
    errs += compare("gold_region_summary", spark["gold_region_summary"], region,
                    ("tectonic_region",),
                    {"avg_magnitude": 2, "center_lat": 2, "center_lon": 2})

    physics = _rows(con, """
        SELECT event_id, epoch_ms(event_time) AS event_time, latitude, longitude, magnitude,
               depth_km, place,
               tectonic_region, risk_level, tsunami_potential,
               1.5 * magnitude + 4.8 AS energy_joules_log,
               1.5 * magnitude - 2.5 * log10(depth_km + 1) + 2.0 AS mercalli_intensity,
               1.5 * magnitude + 9.1 AS seismic_moment_log,
               pow(10.0, 0.74 * magnitude - 3.55) AS rupture_length_km,
               magnitude - 1.2 AS expected_aftershock_mag,
               magnitude * 15 - depth_km * 0.2
                 + CASE WHEN depth_km < 70 THEN 25 ELSE 0 END
                 + CASE WHEN magnitude >= 7.0 THEN 30 ELSE 0 END AS tsunami_risk_score
        FROM silver_earthquakes""")
    errs += compare("gold_physics_analysis", spark["gold_physics_analysis"], physics,
                    ("event_id",),
                    {"energy_joules_log": 2, "mercalli_intensity": 1, "seismic_moment_log": 2,
                     "rupture_length_km": 2, "expected_aftershock_mag": 1,
                     "tsunami_risk_score": 1})
    for r in spark["gold_physics_analysis"]:
        if (r["mercalli_scale"], r["damage_potential"]) != _mmi_bands(r["mercalli_intensity"]):
            errs.append(f"gold_physics_analysis[{r['event_id']}] bands disagree with its MMI")
            break

    rphys = _rows(con, """
        SELECT tectonic_region, count(*) AS total_events, avg(magnitude) AS avg_magnitude,
               avg(mercalli_intensity) AS avg_mmi, avg(rupture_length_km) AS avg_rupture_km,
               avg(tsunami_risk_score) AS avg_tsunami_score,
               count(*) FILTER (WHERE damage_potential = 'EXTREME') AS extreme_count,
               count(*) FILTER (WHERE damage_potential = 'HIGH') AS high_count
        FROM gold_physics_analysis GROUP BY 1""")
    errs += compare("gold_regional_physics", spark["gold_regional_physics"], rphys,
                    ("tectonic_region",),
                    {"avg_magnitude": 2, "avg_mmi": 1, "avg_rupture_km": 2,
                     "avg_tsunami_score": 1})
    return errs


_REPORT_SQL = {
    "events_by_region": ("""
        SELECT tectonic_region AS region, total_events AS events, critical_events AS critical,
               high_risk_events AS high_risk, max_magnitude AS max_mag
        FROM gold_region_summary""", ("region",), {}, False),
    "significant_event_map": ("""
        SELECT latitude, longitude, magnitude, depth_km, place, risk_level, tectonic_region,
               event_time
        FROM silver_earthquakes WHERE magnitude >= 5.0
        ORDER BY event_time DESC LIMIT 3000""", ("event_time", "place"), {}, True),
    "daily_trend": ("""
        SELECT event_date, total_events, max_magnitude, critical_events,
               rolling_7d_count / 7.0 AS rolling_7d_avg
        FROM gold_temporal_metrics ORDER BY event_date""", ("event_date",),
        {"rolling_7d_avg": 0}, True),
    "magnitude_distribution": ("""
        SELECT CASE WHEN magnitude >= 8 THEN '8+ Great' WHEN magnitude >= 7 THEN '7-7.9 Major'
                    WHEN magnitude >= 6 THEN '6-6.9 Strong' WHEN magnitude >= 5 THEN '5-5.9 Moderate'
                    WHEN magnitude >= 4 THEN '4-4.9 Light' WHEN magnitude >= 3 THEN '3-3.9 Minor'
                    ELSE '< 3 Micro' END AS magnitude_category, count(*) AS count
        FROM silver_earthquakes GROUP BY 1""", ("magnitude_category",), {}, False),
    "damage_potential_summary": ("""
        SELECT damage_potential, count(*) AS event_count, avg(magnitude) AS avg_magnitude,
               avg(mercalli_intensity) AS avg_mmi, avg(rupture_length_km) AS avg_rupture_km
        FROM gold_physics_analysis GROUP BY 1
        ORDER BY CASE damage_potential WHEN 'EXTREME' THEN 1 WHEN 'HIGH' THEN 2
                 WHEN 'MODERATE' THEN 3 WHEN 'LOW' THEN 4 ELSE 5 END""",
        ("damage_potential",), {"avg_magnitude": 2, "avg_mmi": 1, "avg_rupture_km": 2}, True),
    "regional_tsunami_risk": ("""
        SELECT tectonic_region, total_events, avg_magnitude, avg_mmi AS avg_mercalli,
               avg_tsunami_score AS tsunami_score, extreme_count + high_count AS high_impact_events
        FROM gold_regional_physics""", ("tectonic_region",), {}, False),
    "recent_major_events": ("""
        SELECT event_time, magnitude, depth_km, place, tectonic_region, risk_level,
               tsunami_potential
        FROM silver_earthquakes WHERE magnitude >= 6.0
        ORDER BY event_time DESC LIMIT 50""", ("event_time", "place"), {}, True),
    "monthly_trends": ("""
        SELECT year, month, sum(total_events) AS events, avg(avg_magnitude) AS avg_mag,
               max(max_magnitude) AS max_mag, sum(critical_events) AS critical,
               sum(tsunami_events) AS tsunami
        FROM gold_temporal_metrics GROUP BY year, month ORDER BY year, month""",
        ("year", "month"), {"avg_mag": 2}, True),
    "watermark_status": ("""
        SELECT table_name, watermark_value, last_updated, records_processed
        FROM control_watermark""", ("table_name",), {}, False),
}


def watermark_errors(con, watermark_ms: int) -> list[str]:
    """The silver watermark in the control table against the generator."""
    got = con.execute("SELECT epoch_ms(watermark_value) FROM control_watermark "
                      "WHERE table_name = 'silver_earthquakes'").fetchall()
    if got != [(watermark_ms,)]:
        return [f"silver watermark {got}, expected {watermark_ms}"]
    return []


def report_errors(con, spark_reports: dict[str, list[dict]]) -> list[str]:
    """The nine reports as Spark returned them against DuckDB."""
    errs: list[str] = []
    for name, (sql, key, places, ordered) in _REPORT_SQL.items():
        expected = _rows(con, sql)
        errs += compare(name, spark_reports.get(name, []), expected, key, places,
                        ordered=ordered)
    for name, col in (("events_by_region", "events"), ("magnitude_distribution", "count")):
        seq = [r[col] for r in spark_reports.get(name, [])]
        if seq != sorted(seq, reverse=True):
            errs.append(f"{name}: not ordered by {col} descending")
    return errs


def report_count_errors(con, counts: dict[str, int]) -> list[str]:
    """Row counts of the nine reports, as a pipeline run's dashboard task
    returns them, against DuckDB."""
    errs = []
    for name, (sql, *_rest) in _REPORT_SQL.items():
        n = con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]
        if counts.get(name) != n:
            errs.append(f"report {name}: {counts.get(name)} rows, expected {n}")
    return errs
