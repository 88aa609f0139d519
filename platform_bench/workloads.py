"""The two workloads: a setup, a data job and a serving phase each.

  retrain    the nightly chain: clean, land, skill_hot_scores, GBT,
             job_features on the newest 25k postings, K-Means, cluster
             landing, salary RF, save, register; then rounds of the mix
             from the new table and the model found through the registry,
             at least MIN_ROUNDS and until --seconds have passed.
  ingest     a small serving model; then phases that each publish JSON
             files by rename, drain them with the availableNow stream
             (checkpoint kept across phases) and run one round of the
             mix over the sink as committed so far.

One closed-loop client drives everything; ingest never overlaps reads.
Every timed phase follows one unrecorded warm-up, except retrain's
model fits, which run cold (README: Workloads).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

from checks import RF_R2_BOUND, Checker, committed_files
from gen import BASE_EPOCH
from steps import Steps

MODEL_ROWS = 2_500        # raw rows behind the small serving model
RETRAIN_ROWS = 100_000    # raw postings the nightly chain cleans and lands
RETRAIN_SAMPLE = 25_000   # newest postings it featurizes and fits (README: scale)
STREAM_PHASES = 4         # recorded phases, after one warm-up phase
STREAM_FILES = 16         # JSON-lines files published per phase
STREAM_FILE_ROWS = 1_000
PREDICTS_PER_ROUND = 3
MIN_ROUNDS = 3            # recorded serving rounds of retrain, at least

TITLE_TERMS = ["engineer", "developer", "analyst", "manager", "kỹ sư", "specialist"]
SKILL_POOL = ["sql", "python", "excel", "java", "communication", "english",
              "javascript", "teamwork", "docker", "sales", "accounting", "aws",
              "linux", "marketing", "autocad", "git", "spark", "react"]
PREFIXES = ["s", "p", "ja", "a", "m", "sk"]
POSITIONS = ["intern", "fresher", "junior", "staff", "senior", "team_lead", "manager"]
POSITION_YEARS = {"intern": (0, 0), "fresher": (0, 1), "junior": (1, 2), "staff": (1, 5),
                  "senior": (4, 9), "team_lead": (5, 12), "manager": (6, 15)}
FIELD_FLAGS = ["is_it", "is_sales", "is_finance", "is_education", "is_engineering", None]
CITY_FLAGS = ["is_hcm", "is_hanoi", "is_danang", None]


def input_spec(workload: str) -> list[dict]:
    """What the generator writes for a workload."""
    model = {"name": "model", "format": "parquet", "rows": MODEL_ROWS, "files": 1}
    if workload == "retrain":
        return [{"name": "retrain", "format": "parquet", "rows": RETRAIN_ROWS, "files": 4}]
    if workload == "ingest":
        return [model, {"name": "stream", "format": "jsonl", "rows": STREAM_FILE_ROWS,
                        "files": STREAM_FILES * (STREAM_PHASES + 1),
                        "files_per_phase": STREAM_FILES}]
    raise ValueError(f"unknown workload {workload!r}")


def mix_args(seed: int) -> dict:
    """Seeded arguments of the mix's calls and the prediction feature rows."""
    rng = np.random.default_rng(seed + 1_000_003)

    def skills(k: int) -> list[str]:
        return [SKILL_POOL[i] for i in rng.choice(len(SKILL_POOL), size=k, replace=False)]

    rows = []
    for _ in range(PREDICTS_PER_ROUND * 2):
        position = POSITIONS[rng.integers(len(POSITIONS))]
        lo, hi = POSITION_YEARS[position]
        features = {"exp_final": float(rng.integers(lo, hi + 1)), f"is_{position}": 1.0}
        for flag in (FIELD_FLAGS[rng.integers(len(FIELD_FLAGS))],
                     CITY_FLAGS[rng.integers(len(CITY_FLAGS))]):
            if flag:
                features[flag] = 1.0
        rows.append((features, position))
    title, gap_title = rng.choice(TITLE_TERMS, size=2, replace=False).tolist()
    return {"title": title, "owned": skills(2), "gap_title": gap_title,
            "gap_owned": skills(3), "career_skills": skills(4),
            "prefix": PREFIXES[rng.integers(len(PREFIXES))], "predict_rows": rows}


@dataclass
class Tables:
    postings: str
    hot: str
    clusters: str
    registry: str


@dataclass
class Run:
    """State of one benchmark run."""

    steps: Steps
    work: str
    inputs: str
    seed: int
    seconds: float
    setup_done: float = 0.0
    job_s: float = 0.0
    etl_rows: int = 0
    etl_s: float = 0.0
    round_times: list[float] = field(default_factory=list)
    predict_times: list[float] = field(default_factory=list)
    served: list[tuple[dict, str, float]] = field(default_factory=list)
    answers: list[dict] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    extra: dict = field(default_factory=dict)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def input(self, name: str) -> str:
        return os.path.join(self.inputs, name)

    def timed(self, fn, *args):
        """Run one recorded job step; returns (result, seconds)."""
        self.attempted += 1
        t = time.perf_counter()
        out = fn(*args)
        return out, time.perf_counter() - t

    # --- serving ------------------------------------------------------------
    def round(self, t: Tables, predictor, args: dict, model_id: str, recorded: bool) -> dict:
        """One round of the dashboard mix, reads and predictions in a
        fixed order. Returns the answers by call name."""
        s = self.steps
        rows = args["predict_rows"]
        calls = [
            ("latest", lambda: s.latest(t.registry)),
            ("top_cities", lambda: s.top_cities(t.postings)),
            ("top_skills", lambda: s.top_skills(t.postings)),
            ("predict", 0),
            ("cluster_means", lambda: s.cluster_means(t.clusters)),
            ("hot_top20", lambda: s.hot_top20(t.hot)),
            ("recommend", lambda: s.recommend(t.postings, args["title"], args["owned"])),
            ("predict", 1),
            ("skill_gap", lambda: s.skill_gap(t.postings, args["gap_title"], args["gap_owned"])),
            ("career_path", lambda: s.career_path(t.postings, args["career_skills"])),
            ("suggest", lambda: s.suggest(t.postings, args["prefix"])),
            ("predict", 2),
        ]
        answers: dict = {}
        start = time.perf_counter()
        for name, call in calls:
            if recorded:
                self.attempted += 1
            try:
                if name == "predict":
                    features, position = rows[(len(self.round_times) * PREDICTS_PER_ROUND + call) % len(rows)]
                    t0 = time.perf_counter()
                    value = s.predict(predictor, features, position)
                    if recorded:
                        self.predict_times.append(time.perf_counter() - t0)
                    self.served.append((features, position, value))
                else:
                    answers[name] = call()
            except Exception:  # noqa: BLE001 -- a failed call is counted, the client goes on
                if not recorded:
                    raise
                self.failed += 1
                traceback.print_exc(file=sys.stderr)
        if recorded:
            self.round_times.append(time.perf_counter() - start)
        answers["latest_expected"] = model_id
        self.answers.append(answers)
        return answers

    def serve(self, t: Tables, predictor, args: dict, model_id: str) -> None:
        """One warm-up round, then whole rounds: at least MIN_ROUNDS, and
        until --seconds have passed."""
        self.steps.op = "warmup-round"
        self.round(t, predictor, args, model_id, recorded=False)
        start = time.perf_counter()
        while len(self.round_times) < MIN_ROUNDS or time.perf_counter() - start < self.seconds:
            self.steps.op = f"round-{len(self.round_times)}"
            self.round(t, predictor, args, model_id, recorded=True)

    # --- shared setup -------------------------------------------------------
    def serving_model(self, tag: str) -> tuple[Tables, object, str, dict]:
        """Land a small table, its skill_hot_scores and clusters, and
        train, save, register and load the salary model it serves."""
        s = self.steps
        postings, hot = self.path(f"{tag}_postings"), self.path(f"{tag}_hot")
        clusters, model_path = self.path(f"{tag}_clusters"), self.path(f"{tag}_rf")
        registry = self.path("registry")
        s.clean_land(self.input("model"), postings)
        s.hot_scores(postings, hot)
        featured = s.featurize(postings)
        km = s.fit_kmeans(featured)
        s.land_clusters(km, clusters)
        rf = s.fit_rf(featured)
        s.save_model(rf.model, model_path)
        model_id = s.register(registry, rf, model_path)
        predictor = s.load_predictor(model_path)
        fits = {"model_postings": postings, "km": km, "rf": rf, "clusters": clusters}
        return Tables(postings, hot, clusters, registry), predictor, model_id, fits


def _rows_in(files: list[str]) -> int:
    return sum(pq.read_metadata(f).num_rows for f in files)


def _parquet(path: str) -> list[str]:
    return sorted(os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet"))


def retrain(run: Run, mark_setup) -> dict:
    s = run.steps
    mark_setup()

    def chain(raw: str, tag: str) -> dict:
        postings, hot = run.path(f"{tag}_postings"), run.path(f"{tag}_hot")
        clusters, model_path = run.path(f"{tag}_clusters"), run.path(f"{tag}_rf")
        registry = run.path(f"{tag}_registry")
        _, etl_s = run.timed(s.clean_land, raw, postings)
        run.timed(s.hot_scores, postings, hot)
        gbt, _ = run.timed(s.fit_gbt, hot)
        featured, _ = run.timed(s.featurize, postings, since)
        km, _ = run.timed(s.fit_kmeans, featured)
        run.timed(s.land_clusters, km, clusters)
        rf, _ = run.timed(s.fit_rf, featured)
        run.timed(s.save_model, rf.model, model_path)
        model_id, _ = run.timed(s.register, registry, rf, model_path)
        return {"postings": postings, "hot": hot, "clusters": clusters, "registry": registry,
                "etl_s": etl_s, "gbt": gbt, "km": km, "rf": rf, "model_id": model_id}

    # the fits' sample: the newest RETRAIN_SAMPLE raw postings, by event_time
    first = RETRAIN_ROWS - RETRAIN_SAMPLE
    since = str(BASE_EPOCH + np.timedelta64(first, "s")).replace("T", " ")
    # The warm-up runs the chain's ETL and hot scores over the same input:
    # after a 5k- or 20k-row warm-up the first 100k-row landing still took
    # 30-60 % longer than a third one. The model fits run cold in the timed
    # job, as in a nightly batch process: warming them costs as much as the
    # fits themselves (README: Workloads).
    s.op = "warmup-job"
    s.clean_land(run.input("retrain"), run.path("warm_postings"))
    s.hot_scores(run.path("warm_postings"), run.path("warm_hot"))
    s.op = "job"
    start = time.perf_counter()
    out = chain(run.input("retrain"), "job")
    run.job_s = time.perf_counter() - start
    run.etl_s = out["etl_s"]
    run.etl_rows = _rows_in(_parquet(out["postings"]))

    s.op = "serving-load"
    model_id, model_path = s.latest(out["registry"])
    predictor = s.load_predictor(model_path)
    t = Tables(out["postings"], out["hot"], out["clusters"], out["registry"])
    args = mix_args(run.seed)
    run.serve(t, predictor, args, out["model_id"])
    fits = {"model_postings": out["postings"], "km": out["km"], "rf": out["rf"],
            "clusters": out["clusters"], "gbt": out["gbt"], "since": since}
    return {"tables": t, "args": args, "fits": fits, "model": predictor.model,
            "rows_in": RETRAIN_ROWS,
            "checks": [("etl", out["postings"], "retrain"), ("hot", out["postings"], out["hot"])]}


def ingest(run: Run, mark_setup) -> dict:
    s = run.steps
    model_t, predictor, model_id, fits = run.serving_model("model")
    stage = os.path.join(run.input("stream"), "stage")
    source, sink, ckpt = run.path("source"), run.path("sink"), run.path("checkpoint")
    os.makedirs(source)
    mark_setup()

    t = Tables(sink, model_t.hot, model_t.clusters, model_t.registry)
    args = mix_args(run.seed)
    progress, phases = [], []
    for phase in range(STREAM_PHASES + 1):
        recorded = phase > 0
        s.op = f"phase-{phase}" if recorded else "warmup-phase"
        for name in sorted(os.listdir(stage)):
            if name.startswith(f"p{phase:03d}-"):
                os.rename(os.path.join(stage, name), os.path.join(source, name))
        before = set(committed_files(sink)) if phase else set()
        if recorded:
            query, seconds = run.timed(s.drain, source, sink, ckpt)
            run.job_s += seconds
            progress.extend(query.recentProgress)
        else:
            s.drain(source, sink, ckpt)
        files = committed_files(sink)
        if recorded:
            run.etl_rows += _rows_in(sorted(set(files) - before))
            answers = run.round(t, predictor, args, model_id, recorded=True)
        else:
            answers = run.round(t, predictor, args, model_id, recorded=False)
        phases.append((files, answers))
    run.etl_s = run.job_s
    run.extra["progress"] = progress
    return {"tables": t, "args": args, "fits": fits, "model": predictor.model,
            "phases": phases, "source": source, "sink": sink, "checks": [],
            "rows_in": STREAM_PHASES * STREAM_FILES * STREAM_FILE_ROWS}


WORKLOADS = {"retrain": retrain, "ingest": ingest}


def check(run: Run, out: dict, spark, chk: Checker) -> dict:
    """Run every output check; returns per-layer counts found on the way."""
    found = {}

    def gen_counts(name: str) -> dict:
        with open(run.input(name) + ".counts.json") as f:
            return json.load(f)

    for kind, a, b in out["checks"]:
        if kind == "etl":
            found["rows_out"] = chk.etl(_parquet(a), _parquet(run.input(b)), "parquet",
                                         run.input(b) + ".planted.parquet", gen_counts(b), b)
        else:
            found["exploded_rows"] = chk.hot_scores(_parquet(a), _parquet(b), "skill_hot_scores")

    fits = out["fits"]
    tag = "model" if "gbt" not in fits else "retrain"
    model_postings = _parquet(fits["model_postings"])
    if tag == "model":
        chk.etl(model_postings, _parquet(run.input("model")), "parquet",
                run.input("model") + ".planted.parquet", gen_counts("model"), "model")
    chk.kmeans(fits["km"], _parquet(fits["clusters"]), model_postings, f"{tag} kmeans",
               fits.get("since"))
    chk.regression(fits["rf"], "salary_final", fits["rf"].predictions, f"{tag} rf", r2_bound=RF_R2_BOUND)
    if "gbt" in fits:
        gbt = fits["gbt"]
        test = spark.read.parquet(out["tables"].hot).randomSplit([0.8, 0.2], seed=42)[1]
        chk.regression(gbt, "skill_hot_score", gbt.model.transform(test), "retrain gbt")

    t, args = out["tables"], out["args"]
    if "phases" in out:
        for i, (files, answers) in enumerate(out["phases"]):
            oracle = chk.mix_oracle(files, _parquet(t.hot), _parquet(t.clusters), args)
            chk.mix(answers, oracle, f"phase {i}")
        sink_files = out["phases"][-1][0]
        stream = run.input("stream")
        found["sink_files"] = len(sink_files)
        found["exploded_rows"] = chk.exploded(sink_files)
        jsonl = sorted(os.path.join(out["source"], f) for f in os.listdir(out["source"]))
        found["rows_out"] = chk.etl(sink_files, jsonl, "jsonl", stream + ".planted.parquet",
                                     gen_counts("stream"), "stream sink")
        batch = run.path("batch_ids")
        run.steps.batch_clean_json(out["source"]).select("id").write.parquet(batch)
        chk.same_ids(sink_files, _parquet(batch), "stream")
        found["scan_files"] = len(sink_files)
    else:
        oracle = chk.mix_oracle(_parquet(t.postings), _parquet(t.hot), _parquet(t.clusters), args)
        for i, answers in enumerate(run.answers):
            chk.mix(answers, oracle, f"round {i}")
        first = {k: v for k, v in run.answers[0].items() if k != "career_path"}
        for i, answers in enumerate(run.answers[1:], 1):
            same = all(answers.get(k) == v for k, v in first.items()
                       if k not in ("cluster_means",) and answers.get(k) is not None)
            chk.expect(same, f"round {i}: answers differ from round 0")
        found["scan_files"] = len(_parquet(t.postings))
    for i, answers in enumerate(run.answers):
        latest = answers.get("latest")
        chk.expect(latest is None or latest[0] == answers["latest_expected"],
                   f"round {i}: latest_model is {latest!r}, not this run's model")
    chk.predictions(spark, out["model"], run.served, "predictions")
    return found


def summary(run: Run) -> dict:
    return {
        "setup_s": run.setup_done,
        "job_s": run.job_s,
        "etl_rows_per_s": run.etl_rows / run.etl_s,
        "round_s": statistics.median(run.round_times),
        "predict_ms": 1000 * statistics.median(run.predict_times),
    }
