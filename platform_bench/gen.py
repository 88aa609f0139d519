"""Seeded raw job-posting generator for the platform benchmark.

Runs in one process with numpy and writes only files; the program under
test never sees the generator, just what it writes:

  <out>/<name>/part-NNNN.parquet           batch input (parquet)
  <out>/<name>/stage/pPPP-fFFF.jsonl       stream input, one directory
                                           entry per file, published later
                                           into the stream source by rename
  <out>/<name>.planted.parquet             planted values, keyed by event_time
  <out>/<name>.counts.json                 rows, null titles, files

Rows follow ``schemas.JOB_POSTING_RAW_SCHEMA``. Salary and experience
strings are rendered from planted numbers in the formats the ETL parses;
a share of rows draws its string from the program's corpora instead. The
planted salary depends on position, field and experience, so a salary
regressor has a signal to learn. Skills follow a Zipf-skewed vocabulary
shifted per field. Every row gets a distinct ``event_time``.

Usage:
  python3 platform_bench/gen.py --seed 7 --out DIR --spec SPEC_JSON
where SPEC_JSON is a list of {"name", "format": "parquet"|"jsonl",
"rows", "files"} objects ("rows" per file for jsonl).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from big_data_spark.fixtures import EXPERIENCE_CORPUS, SALARY_CORPUS  # noqa: E402

# (position_level string, title prefix, base salary in millions VND,
#  (min, max) planted years of experience)
POSITIONS = [
    ("Thực tập sinh", "Intern", 4, (0, 0)),
    ("Fresher", "Fresher", 8, (0, 1)),
    ("Junior", "Junior", 12, (1, 2)),
    ("Nhân viên", "", 16, (1, 5)),
    ("Senior", "Senior", 28, (4, 9)),
    ("Trưởng nhóm", "Lead", 38, (5, 12)),
    ("Quản lý", "Manager of", 50, (6, 15)),
]
POSITION_P = [0.05, 0.1, 0.2, 0.3, 0.2, 0.1, 0.05]

# (job_fields string, salary multiplier, role titles)
FIELDS = [
    ("IT - Phần mềm", 1.3,
     ["Data Engineer", "Backend Developer", "Frontend Developer",
      "QA Engineer", "DevOps Engineer", "Mobile Developer"]),
    ("Kinh doanh / Bán hàng", 1.0,
     ["Sales Executive", "Account Manager", "Marketing Specialist",
      "Business Developer"]),
    ("Tài chính / Ngân hàng", 1.1,
     ["Financial Analyst", "Kế toán viên", "Chuyên viên tín dụng",
      "Auditor"]),
    ("Giáo dục / Đào tạo", 0.8,
     ["Giáo viên tiếng Anh", "Trainer", "Teaching Assistant"]),
    ("Kỹ thuật / Cơ khí", 1.05,
     ["Kỹ sư cơ khí", "Electrical Engineer", "Kỹ sư xây dựng",
      "Maintenance Engineer"]),
    ("Hành chính / Văn phòng", 0.85,
     ["Office Assistant", "Hành chính nhân sự", "Logistics Coordinator"]),
]
FIELD_P = [0.3, 0.2, 0.15, 0.1, 0.15, 0.1]

CITIES = ["Hồ Chí Minh", "Hà Nội", "Đà Nẵng", "Bình Dương", "Cần Thơ",
          "Hải Phòng", "HCM", "", None]
CITY_P = [0.33, 0.28, 0.1, 0.07, 0.05, 0.05, 0.04, 0.05, 0.03]

JOB_TYPES = ["Toàn thời gian", "Bán thời gian", "Thực tập", "Remote"]

# Skill vocabulary: named heads, synthetic tail. "R" and "C" are one
# letter long, so the skills operators drop them.
NAMED_SKILLS = [
    "SQL", "Python", "Excel", "Java", "Communication", "English",
    "JavaScript", "Teamwork", "Docker", "Sales", "Accounting", "AWS",
    "Machine Learning", "Spark", "React", "Negotiation", "Kubernetes",
    "Linux", "Marketing", "AutoCAD", "R", "C", "Go", "Tableau",
    "Power BI", "Git", "Leadership", "Photoshop", "SAP", "Kafka",
]
VOCAB_SIZE = 300
VOCAB = NAMED_SKILLS + [
    f"skill-{i:03d}" for i in range(VOCAB_SIZE - len(NAMED_SKILLS))
]
ZIPF_S = 1.1
FIELD_SHIFT = 17  # vocabulary rotation per field index

NULL_TITLE_P = 0.01
SALARY_CORPUS_P = 0.08
EXPERIENCE_CORPUS_P = 0.08
BASE_EPOCH = np.datetime64("2025-03-01T00:00:00", "s")


def _vnd(n: int) -> str:
    return f"{n:,}".replace(",", ".")


def render_salary(kind: int, s: int, d: int) -> tuple[str, str, float, float, float]:
    """String for planted average ``s`` (millions VND), half-width ``d``;
    returns (salary, unit, min, max, avg) in millions VND."""
    lo, hi = s - d, s + d
    if kind == 0:
        return f"{lo} - {hi} triệu", "VND", lo, hi, s
    if kind == 1:
        return f"{_vnd(lo * 1_000_000)} - {_vnd(hi * 1_000_000)}", "VND", lo, hi, s
    if kind == 2:  # USD at 25k VND: u dollars are u * 0.025 million
        return f"{_vnd(lo * 40)} - {_vnd(hi * 40)} USD", "USD", lo, hi, s
    return f"Từ {s} triệu", "VND", s, float("nan"), s


def render_experience(kind: int, y: int, span: int) -> tuple[str, float, float]:
    """String for planted years ``y``; returns (experience, min, max)."""
    if kind == 0:
        return f"từ {y} năm", y, float("nan")
    return f"{y}-{y + span} years", y, y + span


def _skill_lists(rng: np.random.Generator, field: np.ndarray, k: np.ndarray) -> list[str]:
    """Up to ``k`` distinct Zipf-ranked skills per row, the ranks rotated
    per field (draws with replacement, repeats dropped)."""
    w = np.arange(1, VOCAB_SIZE + 1) ** -ZIPF_S
    kmax = int(k.max())
    ranks = rng.choice(VOCAB_SIZE, size=(len(field), kmax), p=w / w.sum())
    idx = (ranks + (field[:, None] * FIELD_SHIFT)) % VOCAB_SIZE
    names = np.array(VOCAB, dtype=object)[idx].tolist()
    seps = np.where(rng.integers(0, 2, size=len(field)) == 1, ", ", ",").tolist()
    return [
        sep.join(dict.fromkeys(row[:n]))
        for row, n, sep in zip(names, k.tolist(), seps)
    ]


def _pick(options: list, idx: np.ndarray) -> list:
    return np.array(options, dtype=object)[idx].tolist()


def generate(rng: np.random.Generator, n: int, first_second: int) -> tuple[pa.Table, pa.Table]:
    """``n`` raw rows and their planted values; event times start
    ``first_second`` seconds after the base epoch."""
    pos = rng.choice(len(POSITIONS), size=n, p=POSITION_P)
    fld = rng.choice(len(FIELDS), size=n, p=FIELD_P)
    city = rng.choice(len(CITIES), size=n, p=CITY_P)
    role = rng.integers(0, 1 << 30, size=n)
    exp_lo = np.array([p[3][0] for p in POSITIONS])[pos]
    exp_hi = np.array([p[3][1] for p in POSITIONS])[pos]
    years = exp_lo + (rng.random(n) * (exp_hi - exp_lo + 1)).astype(int)
    base = np.array([p[2] for p in POSITIONS], dtype=float)[pos]
    mult = np.array([f[1] for f in FIELDS])[fld]
    noise = rng.normal(0.0, 1.5, size=n)
    sal = np.maximum(3, np.rint(base * mult + 0.8 * years + noise)).astype(int)
    half = np.minimum(rng.integers(1, 6, size=n), sal - 1)
    sal_kind = rng.integers(0, 4, size=n)
    exp_kind = rng.integers(0, 2, size=n)
    exp_span = rng.integers(1, 4, size=n)
    sal_from_corpus = rng.random(n) < SALARY_CORPUS_P
    exp_from_corpus = rng.random(n) < EXPERIENCE_CORPUS_P
    sal_corpus_i = rng.integers(0, len(SALARY_CORPUS), size=n)
    exp_corpus_i = rng.integers(0, len(EXPERIENCE_CORPUS), size=n)
    null_title = rng.random(n) < NULL_TITLE_P
    n_skills = rng.integers(3, 9, size=n)
    jtype = rng.integers(0, len(JOB_TYPES), size=n)
    skills = _skill_lists(rng, fld, n_skills)
    secs = first_second + np.arange(n)
    times = np.datetime_as_string(BASE_EPOCH + secs, unit="s").tolist()

    titles = [
        f"{p[1]} {r}".strip() for p in POSITIONS for f in FIELDS for r in f[2]
    ]
    # first title index of each (position, field) pair, and its role count
    starts, offset = [], 0
    for _ in POSITIONS:
        row = []
        for f in FIELDS:
            row.append(offset)
            offset += len(f[2])
        starts.append(row)
    n_roles = np.array([len(f[2]) for f in FIELDS])[fld]
    title_i = np.array(starts)[pos, fld] + role % n_roles
    job_title = _pick(titles, title_i)
    for i in np.flatnonzero(null_title).tolist():
        job_title[i] = None

    sal_rows = [
        render_salary(k, s, d)
        for k, s, d in zip(sal_kind.tolist(), sal.tolist(), half.tolist())
    ]
    exp_rows = [
        render_experience(k, y, d)
        for k, y, d in zip(exp_kind.tolist(), years.tolist(), exp_span.tolist())
    ]
    salary, unit, smin, smax, savg = (list(c) for c in zip(*sal_rows))
    experience, emin, emax = (list(c) for c in zip(*exp_rows))
    for i in np.flatnonzero(sal_from_corpus).tolist():
        salary[i], unit[i] = SALARY_CORPUS[sal_corpus_i[i]], "VND"
    for i in np.flatnonzero(exp_from_corpus).tolist():
        experience[i] = EXPERIENCE_CORPUS[exp_corpus_i[i]]

    def planted(values: list, from_corpus: np.ndarray) -> pa.Array:
        a = np.array(values, dtype=float)
        a[from_corpus] = np.nan
        return pa.array(a, pa.float64(), from_pandas=True)

    raw = pa.table({
        "job_title": pa.array(job_title, pa.string()),
        "job_type": pa.array(_pick(JOB_TYPES, jtype), pa.string()),
        "position_level": pa.array(_pick([p[0] for p in POSITIONS], pos), pa.string()),
        "city": pa.array(_pick(CITIES, city), pa.string()),
        "experience": pa.array(experience, pa.string()),
        "skills": pa.array(skills, pa.string()),
        "job_fields": pa.array(_pick([f[0] for f in FIELDS], fld), pa.string()),
        "salary": pa.array(salary, pa.string()),
        "salary_min": pa.nulls(n, pa.float64()),
        "salary_max": pa.nulls(n, pa.float64()),
        "unit": pa.array(unit, pa.string()),
        "event_time": pa.array(times, pa.string()),
        "event_type": pa.array(["job_posted"] * n, pa.string()),
    })
    plant = pa.table({
        "event_time": pa.array(times, pa.string()),
        "null_title": pa.array(null_title),
        "salary_from_corpus": pa.array(sal_from_corpus),
        "experience_from_corpus": pa.array(exp_from_corpus),
        "salary_min": planted(smin, sal_from_corpus),
        "salary_max": planted(smax, sal_from_corpus),
        "salary_avg": planted(savg, sal_from_corpus),
        "exp_min_year": planted(emin, exp_from_corpus),
        "exp_max_year": planted(emax, exp_from_corpus),
    })
    return raw, plant


def _write_jsonl(table: pa.Table, path: str) -> None:
    cols = table.to_pydict()
    names = table.column_names
    with open(path, "w", encoding="utf-8") as f:
        for i in range(table.num_rows):
            f.write(json.dumps({c: cols[c][i] for c in names}, ensure_ascii=False))
            f.write("\n")


def write_inputs(seed: int, out: str, spec: list[dict]) -> None:
    rng = np.random.default_rng(seed)
    first = 0
    for item in spec:
        name, fmt, files, rows = item["name"], item["format"], item["files"], item["rows"]
        total = rows * files if fmt == "jsonl" else rows
        raw, plant = generate(rng, total, first)
        first += total
        base = os.path.join(out, name)
        os.makedirs(base, exist_ok=True)
        bounds = np.linspace(0, total, files + 1).astype(int)
        if fmt == "parquet":
            for j in range(files):
                pq.write_table(raw.slice(bounds[j], bounds[j + 1] - bounds[j]),
                               os.path.join(base, f"part-{j:04d}.parquet"))
        else:
            stage = os.path.join(base, "stage")
            os.makedirs(stage)
            per_phase = item["files_per_phase"]
            for j in range(files):
                _write_jsonl(raw.slice(bounds[j], bounds[j + 1] - bounds[j]),
                             os.path.join(stage, f"p{j // per_phase:03d}-f{j % per_phase:03d}.jsonl"))
        pq.write_table(plant, base + ".planted.parquet")
        null_titles = int(np.asarray(plant.column("null_title")).sum())
        with open(base + ".counts.json", "w") as f:
            json.dump({"rows": total, "null_titles": null_titles, "files": files}, f)


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--spec", required=True, help="JSON list of inputs to write")
    args = ap.parse_args(argv)
    write_inputs(args.seed, args.out, json.loads(args.spec))


if __name__ == "__main__":
    main()
