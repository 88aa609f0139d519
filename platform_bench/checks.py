"""Output checks, computed apart from the program.

Answers are compared with DuckDB queries over the same files, with the
values the generator planted, and with properties the method must have.
Every failed check is kept as a message; a run is correct when there
are none.
"""

from __future__ import annotations

import json
import math
import os

import duckdb
import numpy as np

FLOAT_TOL = 1e-9          # relative, engine against engine
MATCH_THRESHOLD = 0.3     # career_path_recommendations' default min_match
RF_R2_BOUND = 0.5         # the salary RF must explain half the variance
# per-position (floor, ceiling) in millions VND, and the IT bonus
BANDS = {"intern": (2.0, 5.0), "fresher": (4.0, 10.0), "junior": (7.0, 15.0),
         "staff": (10.0, 25.0), "senior": (18.0, 45.0),
         "team_lead": (25.0, 60.0), "manager": (35.0, 100.0)}
IT_BONUS = 1.2

RAW_COLUMNS = {
    "job_title": "VARCHAR", "job_type": "VARCHAR", "position_level": "VARCHAR",
    "city": "VARCHAR", "experience": "VARCHAR", "skills": "VARCHAR",
    "job_fields": "VARCHAR", "salary": "VARCHAR", "salary_min": "DOUBLE",
    "salary_max": "DOUBLE", "unit": "VARCHAR", "event_time": "VARCHAR",
    "event_type": "VARCHAR",
}

# The ETL's parsing rules, restated for DuckDB over the raw relation.
PARSE_SQL = r"""
WITH r AS (
  SELECT event_time, lower(salary) AS sc, lower(experience) AS er
  FROM raw WHERE job_title IS NOT NULL
), s AS (
  SELECT *, regexp_extract(sc, '(\d+[.,\d]*)', 1) AS a,
         regexp_extract(sc, '-\s*(\d+[.,\d]*)', 1) AS b,
         regexp_matches(sc, 'triệu|tr|m') AS mil,
         regexp_matches(sc, 'usd|\$') AS usd
  FROM r
), v AS (
  SELECT *,
    CASE WHEN mil THEN try_cast(a AS DOUBLE)
         ELSE try_cast(regexp_replace(a, '[.,]', '', 'g') AS DOUBLE) END AS va,
    CASE WHEN mil THEN try_cast(b AS DOUBLE)
         ELSE try_cast(regexp_replace(b, '[.,]', '', 'g') AS DOUBLE) END AS vb
  FROM s
), m AS (
  SELECT *,
    CASE WHEN usd THEN va * 25 / 1000 WHEN va >= 1000 THEN va / 1000000
         WHEN va > 100 AND va < 1000 THEN va / 1000 ELSE va END AS smin,
    CASE WHEN usd THEN vb * 25 / 1000 WHEN vb >= 1000 THEN vb / 1000000
         WHEN vb > 100 AND vb < 1000 THEN vb / 1000 ELSE vb END AS smax,
    CASE WHEN contains(er, 'không yêu cầu') THEN NULL
         WHEN regexp_matches(er, 'chưa có|mới tốt nghiệp|intern') THEN 0.0
         WHEN regexp_matches(er, '(từ|from|at least|tối thiểu|min)\s*\d+')
           THEN try_cast(regexp_extract(er, '(?:từ|from|at least|tối thiểu|min)\s*(\d+)', 1) AS DOUBLE)
         WHEN regexp_matches(er, '\d+\s*\+') OR regexp_matches(er, '\d+\s*(năm|year|yoe|kn)')
           THEN try_cast(regexp_extract(er, '(\d+)', 1) AS DOUBLE)
         WHEN regexp_matches(er, '\d+\s*-\s*\d+')
           THEN try_cast(regexp_extract(er, '(\d+)\s*-\s*\d+', 1) AS DOUBLE)
         END AS emin,
    CASE WHEN regexp_matches(er, '\d+\s*-\s*\d+')
         THEN try_cast(regexp_extract(er, '\d+\s*-\s*(\d+)', 1) AS DOUBLE) END AS emax
  FROM v
)
SELECT event_time, smin, smax,
  CASE WHEN smin IS NOT NULL AND smax IS NOT NULL THEN (smin + smax) / 2
       WHEN smin IS NOT NULL THEN smin ELSE 0.0 END AS savg,
  emin, emax,
  CASE WHEN coalesce(emin, 0.0) > 40 THEN NULL ELSE coalesce(emin, 0.0) END AS eavg
FROM m
"""

HOT_SQL = r"""
WITH b AS (
  SELECT lower(city) AS city, coalesce(salary_avg, 0.0) AS sal,
         coalesce(exp_avg_year, 0.0) AS ex, skills
  FROM p WHERE coalesce(skills, '') <> ''
), e AS (
  SELECT trim(unnest(string_split(lower(skills), ','))) AS skill, sal, ex,
         CASE WHEN regexp_matches(city, 'hồ chí minh|hà nội|hcm|ha noi') THEN 1.0 ELSE 0.0 END AS big
  FROM b
), a AS (
  SELECT skill, count(*) AS n, avg(sal) AS s, avg(ex) AS x, avg(big) AS bc
  FROM e WHERE length(skill) > 1 GROUP BY skill
)
SELECT skill, n, s, x, bc,
       0.4 * (s / 100.0) + 0.3 * least(n / 100.0, 1.0) - 0.2 * (x / 10.0) + 0.1 * bc
FROM a WHERE n >= 10 ORDER BY skill
"""


def _close(a, b, tol: float = FLOAT_TOL) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is None and b is None
        return math.isclose(a, b, rel_tol=tol, abs_tol=tol)
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(_close(x, y, tol) for x, y in zip(a, b))
    return a == b


def committed_files(sink: str) -> list[str]:
    """Part files a parquet file sink has committed, from its metadata
    log (latest compaction plus the batches after it)."""
    log = os.path.join(sink, "_spark_metadata")
    batches = {}
    for name in os.listdir(log):
        if name.startswith("."):
            continue
        batch = int(name.split(".")[0])
        batches[batch] = os.path.join(log, name)
    compacts = [b for b, p in batches.items() if p.endswith(".compact")]
    first = max(compacts) if compacts else min(batches)
    files = []
    for b in sorted(b for b in batches if b >= first):
        with open(batches[b]) as f:
            next(f)  # version line
            for line in f:
                entry = json.loads(line)
                if entry.get("action", "add") == "add":
                    files.append(entry["path"].removeprefix("file://"))
    return sorted(files)


def clamp(raw: float, position: str, is_it: bool) -> float:
    floor, ceiling = BANDS[position]
    out = min(max(raw, floor), ceiling)
    return min(out * IT_BONUS, ceiling) if is_it and out < ceiling else out


class Checker:
    def __init__(self, temp_dir: str) -> None:
        self.con = duckdb.connect()
        self.con.execute("SET TimeZone = 'UTC'")
        self.con.execute(f"SET temp_directory = '{temp_dir}'")
        self.failures: list[str] = []

    def expect(self, ok: bool, what: str) -> None:
        if not ok:
            self.failures.append(what)

    def q(self, sql: str, *params) -> list[tuple]:
        return self.con.execute(sql, list(params)).fetchall()

    def view(self, name: str, files: list[str], fmt: str = "parquet") -> None:
        lst = "[" + ", ".join(f"'{f}'" for f in files) + "]"
        if fmt == "parquet":
            rel = f"read_parquet({lst})"
        else:
            cols = "{" + ", ".join(f"'{k}': '{v}'" for k, v in RAW_COLUMNS.items()) + "}"
            rel = f"read_json({lst}, format='newline_delimited', columns={cols})"
        self.con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM {rel}")

    # --- ETL --------------------------------------------------------------
    def etl(self, landed: list[str], raw: list[str], raw_fmt: str,
            planted: str, counts: dict, tag: str) -> int:
        """Landed rows against the raw files and the planted values;
        returns the landed row count."""
        self.view("p", landed)
        self.view("raw", raw, raw_fmt)
        n, ids = self.q("SELECT count(*), count(DISTINCT id) FROM p")[0]
        self.expect(n == counts["rows"] - counts["null_titles"],
                    f"{tag}: landed {n} rows, generated {counts['rows']} minus "
                    f"{counts['null_titles']} null titles")
        self.expect(ids == n, f"{tag}: {n - ids} duplicate ids")
        key = "strftime(p.event_time, '%Y-%m-%dT%H:%M:%S')"
        same = ("(abs({a} - {b}) <= 1e-9 * greatest(1, abs({b})) "
                "OR ({a} IS NULL AND {b} IS NULL))")
        planted_bad = self.q(f"""
            SELECT count(*), count(t.event_time),
              count(*) FILTER (WHERE NOT t.salary_from_corpus AND NOT (
                {same.format(a='p.salary_min', b='t.salary_min')} AND
                {same.format(a='p.salary_max', b='t.salary_max')} AND
                {same.format(a='p.salary_avg', b='t.salary_avg')})),
              count(*) FILTER (WHERE NOT t.experience_from_corpus AND NOT (
                {same.format(a='p.exp_min_year', b='t.exp_min_year')} AND
                {same.format(a='p.exp_max_year', b='t.exp_max_year')} AND
                {same.format(a='p.exp_avg_year', b='t.exp_min_year')}))
            FROM p LEFT JOIN read_parquet('{planted}') t ON {key} = t.event_time""")[0]
        total, joined, bad_sal, bad_exp = planted_bad
        self.expect(joined == total, f"{tag}: {total - joined} landed rows match no generated row")
        self.expect(bad_sal == 0, f"{tag}: {bad_sal} planted salaries do not parse back")
        self.expect(bad_exp == 0, f"{tag}: {bad_exp} planted experiences do not parse back")
        (bad_parse,) = self.q(f"""
            WITH o AS ({PARSE_SQL})
            SELECT count(*) FILTER (WHERE o.event_time IS NULL OR NOT (
                {same.format(a='p.salary_min', b='o.smin')} AND
                {same.format(a='p.salary_max', b='o.smax')} AND
                {same.format(a='p.salary_avg', b='o.savg')} AND
                {same.format(a='p.exp_min_year', b='o.emin')} AND
                {same.format(a='p.exp_max_year', b='o.emax')} AND
                {same.format(a='p.exp_avg_year', b='o.eavg')} AND
                p.city = CASE WHEN coalesce(r.city, '') = '' THEN 'Unknown' ELSE r.city END))
            FROM p LEFT JOIN o ON {key} = o.event_time
                   LEFT JOIN raw r ON {key} = r.event_time""")[0]
        self.expect(bad_parse == 0, f"{tag}: {bad_parse} rows differ from DuckDB's parse of the raw files")
        return n

    # --- skills -----------------------------------------------------------
    def hot_scores(self, landed: list[str], hot: list[str], tag: str) -> int:
        """skill_hot_scores against a DuckDB aggregation over the landed
        files; returns the exploded (posting, skill) row count."""
        self.view("p", landed)
        want = self.q(HOT_SQL)
        got = self.q(f"""SELECT skill, job_count, avg_salary, avg_exp, big_city_ratio,
                                skill_hot_score FROM read_parquet({hot!r}) ORDER BY skill""")
        self.expect(len(got) == len(want) and all(_close(a, b) for a, b in zip(got, want)),
                    f"{tag}: skill_hot_scores differs from DuckDB ({len(got)} vs {len(want)} skills)")
        return self.exploded(landed)

    def exploded(self, landed: list[str]) -> int:
        """(posting, skill) rows the skills operators explode from ``landed``."""
        self.view("p", landed)
        return self.q("""SELECT count(*) FROM (SELECT trim(unnest(string_split(lower(skills), ','))) AS s
                         FROM p) WHERE length(s) > 1""")[0][0]

    # --- the dashboard mix --------------------------------------------------
    def mix_oracle(self, postings: list[str], hot: list[str], clusters: list[str], args: dict) -> dict:
        self.view("p", postings)
        self.con.execute("""CREATE OR REPLACE TEMP TABLE ex AS
            SELECT job_title, skill FROM (
              SELECT job_title, trim(unnest(string_split(lower(skills), ','))) AS skill FROM p)
            WHERE length(skill) > 1""")

        def top(where: str, *params) -> list[tuple]:
            return self.q(f"""SELECT skill, count(*) AS n FROM ex WHERE {where}
                              GROUP BY skill ORDER BY n DESC, skill LIMIT 10""", *params)

        owned = [s.lower().strip() for s in args["owned"]]
        gap_owned = {s.lower().strip() for s in args["gap_owned"]}
        gap_top = [s for s, _ in top("contains(lower(job_title), ?)", args["gap_title"].lower())]
        missing = [s for s in gap_top if s not in gap_owned]
        user = list(dict.fromkeys(s.lower().strip() for s in args["career_skills"]))
        return {
            "top_cities": self.q("""SELECT city, count(*) AS n FROM p GROUP BY city
                                    ORDER BY n DESC, city LIMIT 10"""),
            "top_skills": top("true"),
            "cluster_means": self.q(f"""SELECT cluster, count(*), avg(salary_final), avg(exp_final)
                                        FROM read_parquet({clusters!r}) GROUP BY cluster ORDER BY cluster"""),
            "hot_top20": self.q(f"""SELECT skill, job_count, skill_hot_score FROM read_parquet({hot!r})
                                    ORDER BY skill_hot_score DESC, skill LIMIT 20"""),
            "recommend": top("contains(lower(job_title), ?) AND NOT list_contains(?, skill)",
                             args["title"].lower(), owned),
            "skill_gap": (tuple(gap_top), tuple(missing),
                          (len(gap_top) - len(missing)) / len(gap_top) if gap_top else 0.0),
            "career_path": self.q("""
                WITH j AS (
                  SELECT job_title, position_level, salary_avg,
                         list_distinct(list_transform(string_split(lower(skills), ','), x -> trim(x))) AS js
                  FROM p WHERE skills IS NOT NULL AND skills <> '')
                SELECT job_title, position_level, count(*),
                       avg(CASE WHEN len(js) > 0 THEN len(list_intersect(?, js)) / len(js) ELSE 0.0 END),
                       avg(salary_avg)
                FROM j GROUP BY job_title, position_level""", user),
            "suggest": top("starts_with(skill, ?)", args["prefix"].lower()),
        }

    def mix(self, answers: dict, oracle: dict, tag: str) -> None:
        for key, want in oracle.items():
            got = answers.get(key)
            if got is None:
                continue  # a failed call is counted in "failed", not here
            if key == "career_path":
                self._career(got, want, f"{tag} {key}")
            else:
                self.expect(_close(list(got) if isinstance(got, list) else got, want),
                            f"{tag} {key}: {got!r} != DuckDB {want!r}")

    def _career(self, got: list[tuple], groups: list[tuple], tag: str, n: int = 10) -> None:
        """Top-n by avg_match over the threshold. Groups whose match lies
        within FLOAT_TOL of the cut or of the threshold may go either way;
        every other group must be in or out exactly as DuckDB says."""
        by_key = {(g[0], g[1]): g for g in groups}
        eps = FLOAT_TOL
        for row in got:
            want = by_key.get((row[0], row[1]))
            self.expect(want is not None and _close(row, want), f"{tag}: {row!r} != DuckDB {want!r}")
            self.expect(row[3] > MATCH_THRESHOLD - eps, f"{tag}: {row!r} under the threshold")
        matches = [r[3] for r in got]
        self.expect(all(a >= b - eps for a, b in zip(matches, matches[1:])), f"{tag}: not ordered")
        sure = [g for g in groups if g[3] > MATCH_THRESHOLD + eps]
        if len(got) == n:
            cut = min(matches)
            sure = [g for g in sure if g[3] > cut + eps]
        keys = {(r[0], r[1]) for r in got}
        missing = [g for g in sure if (g[0], g[1]) not in keys]
        self.expect(not missing, f"{tag}: groups missing from the answer: {missing[:3]!r}")
        possible = [g for g in groups if g[3] > MATCH_THRESHOLD - eps]
        self.expect(len(got) == min(n, len(possible)) or len(got) >= min(n, len(sure)),
                    f"{tag}: {len(got)} rows, DuckDB has {len(sure)}-{len(possible)} eligible")

    # --- ML -----------------------------------------------------------------
    def regression(self, fit, label: str, test_df, tag: str, r2_bound: float | None = None) -> float:
        """Recompute rmse/mae/r2 from the model's own test predictions."""
        pdf = test_df.select(label, "prediction").toPandas()
        y, p = pdf[label].to_numpy(float), pdf["prediction"].to_numpy(float)
        err = y - p
        rmse = float(np.sqrt(np.mean(err ** 2)))
        mae = float(np.mean(np.abs(err)))
        r2 = float(1.0 - np.sum(err ** 2) / np.sum((y - y.mean()) ** 2))
        for name, value in (("rmse", rmse), ("mae", mae), ("r2", r2)):
            self.expect(math.isclose(fit.metrics[name], value, rel_tol=1e-6, abs_tol=1e-9),
                        f"{tag}: reported {name} {fit.metrics[name]} != recomputed {value}")
        if r2_bound is not None:
            self.expect(r2 >= r2_bound, f"{tag}: R2 {r2:.3f} under the bound {r2_bound}")
        return r2

    def kmeans(self, fit, clusters: list[str], postings: list[str], tag: str,
               since: str | None = None, sample: int = 2000) -> None:
        centers = np.array(fit.model.stages[-1].clusterCenters())
        pdf = fit.predictions.select("features", "cluster").limit(sample).toPandas()
        x = np.stack([v.toArray() for v in pdf["features"]])
        d = ((x[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
        order = np.sort(d, axis=1)
        clear = order[:, 1] - order[:, 0] > 1e-9
        nearest = d.argmin(axis=1)
        wrong = int((clear & (nearest != pdf["cluster"].to_numpy())).sum())
        self.expect(wrong == 0, f"{tag}: {wrong} of {len(pdf)} points not in their nearest cluster")
        self.view("p", postings)
        (featured,) = self.q("""
            SELECT count(*) FROM (
              SELECT coalesce(salary_avg, (salary_min + salary_max) / 2, 0.0) AS s,
                     coalesce(exp_avg_year, exp_min_year, 0.0) AS e FROM p
              WHERE event_time >= CAST(? AS TIMESTAMP))
            WHERE s > 0 AND s <= 200 AND e >= 0 AND e <= 30""", since or "1970-01-01")[0]
        sizes = self.q(f"SELECT cluster, count(*) FROM read_parquet({clusters!r}) GROUP BY cluster")
        total = sum(c for _, c in sizes)
        self.expect(total == featured, f"{tag}: cluster sizes sum to {total}, {featured} rows featured")

    def predictions(self, spark, model, served: list[tuple[dict, str, float]], tag: str) -> None:
        """Each served prediction equals this module's clamp of the batch
        transform of the same feature row, and lies in its band."""
        import pandas as pd
        from big_data_spark.ml.serving import SERVING_FEATURES, SERVING_SCHEMA

        rows = pd.DataFrame([[float(f.get(c, 0.0)) for c in SERVING_FEATURES] for f, _, _ in served],
                            columns=SERVING_FEATURES)
        raw = [r[0] for r in model.transform(spark.createDataFrame(rows, SERVING_SCHEMA))
               .select("prediction").collect()]
        bad = 0
        for (features, position, value), r in zip(served, raw):
            want = clamp(float(r), position, bool(features.get("is_it", 0.0)))
            floor, ceiling = BANDS[position]
            bad += not (math.isclose(value, want, rel_tol=1e-12, abs_tol=1e-12)
                        and floor <= value <= ceiling)
        self.expect(len(raw) == len(served) and bad == 0,
                    f"{tag}: {bad} of {len(served)} predictions differ from clamp(transform)")

    # --- stream -------------------------------------------------------------
    def same_ids(self, sink: list[str], batch: list[str], tag: str) -> None:
        (a, b) = self.q(f"""
            SELECT (SELECT count(*) FROM (SELECT id FROM read_parquet({sink!r})
                                          EXCEPT SELECT id FROM read_parquet({batch!r}))),
                   (SELECT count(*) FROM (SELECT id FROM read_parquet({batch!r})
                                          EXCEPT SELECT id FROM read_parquet({sink!r})))""")[0]
        self.expect(a == 0 and b == 0,
                    f"{tag}: {a} sink ids not in the batch clean, {b} batch ids not in the sink")

    def close(self) -> None:
        self.con.close()
