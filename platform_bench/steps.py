"""The calls the benchmark makes into ``big_data_spark``, one method per
traced boundary, and the dashboard's call mix.

Every read plans afresh against a table path, as a stateless dashboard
request would. ``SPAN_NAMES`` maps each method to the span (and
per-layer metric prefix) the traced run records for it.
"""

from __future__ import annotations

from pyspark.ml import PipelineModel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_spark.ml.features import RF_FEATURES, job_features
from big_data_spark.ml.pipelines import (
    FitResult,
    fit_job_clustering,
    fit_salary_rf,
    fit_skill_hot_gbt,
)
from big_data_spark.ml.registry import latest_model, register_model
from big_data_spark.ml.serving import SalaryPredictor
from big_data_spark.operators import recommender
from big_data_spark.operators.job_etl import clean_job_postings
from big_data_spark.operators.skills import skill_hot_scores
from big_data_spark.schemas import JOB_POSTING_RAW_SCHEMA
from big_data_spark.sources import read_json, write_parquet
from big_data_spark.streaming import stream_clean_postings

MODEL_NAME = "salary_rf"
CLUSTER_COLUMNS = ["id", "job_title", "city", "salary_final", "exp_final",
                   "job_fields", "position_level", "cluster"]
TOP_N = 10

SPAN_NAMES = {
    "write_parquet": "sources.write",
    "clean_land": "job_etl.clean_land",
    "hot_scores": "skills.hot_scores",
    "featurize": "features.job_features",
    "fit_gbt": "pipelines.fit_gbt",
    "fit_kmeans": "pipelines.fit_kmeans",
    "land_clusters": "sources.land_clusters",
    "fit_rf": "pipelines.fit_rf",
    "save_model": "pipelines.save",
    "register": "registry.register",
    "load_predictor": "serving.load",
    "drain": "streaming.drain",
    "latest": "registry.latest",
    "top_cities": "read.top_cities",
    "top_skills": "read.top_skills",
    "cluster_means": "read.cluster_means",
    "hot_top20": "skills.hot_top20",
    "recommend": "recommender.recommend",
    "skill_gap": "recommender.skill_gap",
    "career_path": "recommender.career_path",
    "suggest": "recommender.suggest",
    "predict": "serving.predict",
}


def _rows(df: DataFrame) -> list[tuple]:
    return [tuple(r) for r in df.collect()]


class Steps:
    """One method per call into the program. ``op`` names the operation
    the next calls belong to; the tracer reads it."""

    def __init__(self, spark: SparkSession) -> None:
        self.spark = spark
        self.op = "setup"

    def _read(self, path: str) -> DataFrame:
        return self.spark.read.parquet(path)

    # --- data jobs -------------------------------------------------------
    def write_parquet(self, df: DataFrame, path: str) -> None:
        write_parquet(df, path)

    def clean_land(self, raw_path: str, out: str) -> None:
        raw = self.spark.read.schema(JOB_POSTING_RAW_SCHEMA).parquet(raw_path)
        self.write_parquet(clean_job_postings(raw, deterministic_id=True), out)

    def hot_scores(self, postings: str, out: str) -> None:
        self.write_parquet(skill_hot_scores(self._read(postings)), out)

    def featurize(self, postings: str, since: str | None = None) -> DataFrame:
        df = self._read(postings)
        if since is not None:
            df = df.where(F.col("event_time") >= F.to_timestamp(F.lit(since)))
        featured = job_features(df).cache()
        featured.count()
        return featured

    def fit_gbt(self, hot: str) -> FitResult:
        return fit_skill_hot_gbt(self._read(hot))

    def fit_kmeans(self, featured: DataFrame) -> FitResult:
        return fit_job_clustering(featured)

    def land_clusters(self, fit: FitResult, out: str) -> None:
        self.write_parquet(
            fit.predictions.withColumn("cluster", F.col("cluster").cast("int"))
            .select(*CLUSTER_COLUMNS),
            out,
        )

    def fit_rf(self, featured: DataFrame) -> FitResult:
        return fit_salary_rf(featured)

    def save_model(self, model: PipelineModel, path: str) -> None:
        model.write().overwrite().save(path)

    def register(self, registry: str, fit: FitResult, path: str) -> str:
        return register_model(self.spark, registry, MODEL_NAME, "random_forest",
                              fit.metrics, RF_FEATURES, path)

    def load_predictor(self, path: str) -> SalaryPredictor:
        return SalaryPredictor.load(self.spark, path)

    def drain(self, source: str, sink: str, checkpoint: str):
        query = stream_clean_postings(self.spark, source, sink, checkpoint)
        query.awaitTermination()
        if query.exception() is not None:
            raise RuntimeError(f"stream drain failed: {query.exception()}")
        return query

    def batch_clean_json(self, source: str) -> DataFrame:
        return clean_job_postings(read_json(self.spark, source, JOB_POSTING_RAW_SCHEMA),
                                  deterministic_id=True)

    # --- the dashboard mix -------------------------------------------------
    def latest(self, registry: str) -> tuple[str, str]:
        row = latest_model(self.spark, registry, MODEL_NAME)
        return row["model_id"], row["model_path"]

    def top_cities(self, postings: str) -> list[tuple]:
        return _rows(
            self._read(postings).groupBy("city").agg(F.count("*").alias("n"))
            .orderBy(F.desc("n"), F.asc("city")).limit(TOP_N)
        )

    def top_skills(self, postings: str) -> list[tuple]:
        skills = (
            self._read(postings)
            .select(F.explode(F.split(F.lower("skills"), ",")).alias("skill"))
            .select(F.trim("skill").alias("skill"))
            .where(F.length("skill") > 1)
        )
        return _rows(
            skills.groupBy("skill").agg(F.count("*").alias("n"))
            .orderBy(F.desc("n"), F.asc("skill")).limit(TOP_N)
        )

    def cluster_means(self, clusters: str) -> list[tuple]:
        return _rows(
            self._read(clusters).groupBy("cluster")
            .agg(F.count("*"), F.avg("salary_final"), F.avg("exp_final"))
            .orderBy("cluster")
        )

    def hot_top20(self, hot: str) -> list[tuple]:
        return _rows(
            self._read(hot).select("skill", "job_count", "skill_hot_score")
            .orderBy(F.desc("skill_hot_score"), F.asc("skill")).limit(20)
        )

    def recommend(self, postings: str, title: str, owned: list[str]) -> list[tuple]:
        return _rows(recommender.recommend_skills_for_job(self._read(postings), title, owned, TOP_N))

    def skill_gap(self, postings: str, title: str, owned: list[str]) -> tuple:
        gap = recommender.analyze_skill_gap(self._read(postings), title, owned, TOP_N)
        return tuple(gap["top_skills"]), tuple(gap["missing_skills"]), gap["readiness"]

    def career_path(self, postings: str, skills: list[str]) -> list[tuple]:
        return _rows(recommender.career_path_recommendations(self._read(postings), skills, n=TOP_N))

    def suggest(self, postings: str, prefix: str) -> list[tuple]:
        return _rows(recommender.suggest_skills(self._read(postings), prefix, TOP_N))

    def predict(self, predictor: SalaryPredictor, features: dict, position: str) -> float:
        return predictor.predict(features, position)
