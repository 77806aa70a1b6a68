"""Warehouse layer: job_metadata natural-key merge (Q8), skills (S10),
enrichment jobs (Q6/Q7) and the analytics views (Q1-Q5, S12).

``job_metadata`` reproduces the Postgres table of
dags/crawler/create_database.py:38-59 with the derivations of
dags/utils.py:199-262 (save_job_metadata_to_postgres) and the
deterministic extraction contract documented in crawlspark.functions:

* normalize_text on url/location/role/company/contract_type/job_type/
  raw_content_file/searched_* (utils.py:242-251);
* listed_date via convert_listed_date_to_dateformat anchored at the
  page's warc_ts (C4 — determinism replaces the reference wall clock);
* level via get_level_from_role at insert (utils.py:251);
* min/max salary via the faithful pydantic semantics (C10);
* contract_type/job_type constant defaults (C11 — faithful);
* id = sha2 over site‖natural-key (C13 — replaces uuid4);
* crawled_date = deterministic round date (C14);
* skills kept as a sorted, normalized ARRAY<STRING> column (C16) —
  the child table of the reference (skills, create_database.py:69-74)
  is exposed as an explode view.

Upsert semantics (Q8): ``ON CONFLICT (crawled_website_id, location,
role, company, listed_date, contract_type) DO UPDATE`` (utils.py:214)
→ window ``row_number`` keep-latest per natural key, ordered by round
DESC then a deterministic tiebreak. On Iceberg this is a MERGE INTO;
the snapshot store rewrites the table (documented O(table) fallback).

crawled_website ids follow the reference seed insert order
(create_database.py:32-34): jora=1, seek=2, careerone=3.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from crawlspark import functions as cf
from crawlspark.fixtures import EPOCH
from crawlspark.textops import release_frames

WEBSITE_IDS = [("jora", 1), ("seek", 2), ("careerone", 3)]

JOB_METADATA_COLS = [
    "id", "crawled_website_id", "url", "location", "searched_location",
    "role", "searched_role", "company", "listed_date", "raw_listed_date",
    "crawled_date", "min_salary", "max_salary", "contract_type",
    "number_of_experience", "job_type", "is_working_right",
    "raw_content_file", "level", "extraction_role", "skills", "round",
]

NATURAL_KEY = [
    "crawled_website_id", "location", "role", "company", "listed_date",
    "contract_type",
]


def round_date(rnd: int) -> str:
    """Deterministic crawl date: reference start_date + round (C14)."""
    return (EPOCH + dt.timedelta(days=rnd)).strftime("%Y-%m-%d")


def website_dim(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(WEBSITE_IDS, "site string, crawled_website_id int")


def _common_cols(rnd: int):
    nt = cf.normalize_text
    return dict(
        url_n=nt(F.col("url")),
        location_n=nt(F.coalesce(F.col("location"), F.lit(""))),
        role_n=nt(F.coalesce(F.col("role"), F.lit(""))),
        company_n=nt(F.coalesce(F.col("company"), F.lit(""))),
        listed_date=cf.convert_listed_date(
            F.col("listed_date_raw"), F.col("warc_ts")
        ),
        crawled_date=F.lit(round_date(rnd)),
        contract_type=cf.contract_type_final(),
        job_type=cf.job_type_final(),
        level=cf.level_from_role(F.col("role")),
        searched_location_n=nt(F.col("searched_location")),
        searched_role_n=nt(F.col("searched_role")),
    )


def build_seek_jora_metadata(parsed: DataFrame, rnd: int) -> DataFrame:
    """parsed = detail-phase output (scheduler.run_round)."""
    c = _common_cols(rnd)
    # S3 artifact key (S8): site/date/loc/role/sha256(url).txt
    # (create_file_path, dags/utils.py:98-107,123-131), then
    # normalize_text'd on insert (utils.py:249)
    raw_file = cf.normalize_text(
        F.concat_ws(
            "/",
            F.col("site"),
            c["crawled_date"],
            F.col("searched_location"),
            F.col("searched_role"),
            F.concat(F.sha2(F.col("url"), 256), F.lit(".txt")),
        )
    )
    # S13 replacement: the reference fills salary/skills via its LLM
    # agent over combination_text; the deterministic extractors scan
    # the same artifact (functions.py SKILL_LEXICON / salary regex) and
    # feed the SAME pydantic-faithful validation chain (C10)
    raw_mn, raw_mx, raw_sal = cf.extract_salary_fields(F.col("combination_text"))
    min_s, max_s = cf.salary_exprs(
        raw_mn,
        raw_mx,
        raw_sal,
        post_validate=True,  # jora/seek path calls post_salary_validator
    )
    return parsed.select(
        F.col("site"),
        c["url_n"].alias("url"),
        c["location_n"].alias("location"),
        c["searched_location_n"].alias("searched_location"),
        c["role_n"].alias("role"),
        c["searched_role_n"].alias("searched_role"),
        c["company_n"].alias("company"),
        c["listed_date"].alias("listed_date"),
        F.col("listed_date_raw").alias("raw_listed_date"),
        c["crawled_date"].alias("crawled_date"),
        min_s.cast("int").alias("min_salary"),
        max_s.cast("int").alias("max_salary"),
        c["contract_type"].alias("contract_type"),
        # S13: "N(+) years" extracted from combination_text; the
        # no-mention default stays site-faithful — seek
        # job_des.get("number_of_experience", -1) → -1
        # (seek_job_description_extraction.py:212), jora pydantic
        # default 1 (jora_job_description_extraction.py:37-38)
        F.coalesce(
            cf.extract_experience(F.col("combination_text")),
            F.when(F.col("site") == "seek", F.lit(-1)).otherwise(F.lit(1)),
        ).alias("number_of_experience"),
        c["job_type"].alias("job_type"),
        # S13: sponsorship-phrase match; no signal → pydantic default
        # True (jora_job_description_extraction.py:44-45)
        cf.extract_working_right(F.col("combination_text")).alias(
            "is_working_right"
        ),
        raw_file.alias("raw_content_file"),
        c["level"].alias("level"),
        F.lit(None).cast("string").alias("extraction_role"),
        cf.normalize_skills(
            cf.extract_skills(F.col("combination_text"))
        ).alias("skills"),
        F.lit(rnd).alias("round"),
        F.lit(None).cast("int").alias("job_idx"),
    )


def build_careerone_metadata(c1_jobs: DataFrame, rnd: int) -> DataFrame:
    """c1_jobs = scheduler careerone extraction output (E5)."""
    c = _common_cols(rnd)
    # careerone does NOT call post_salary_validator
    # (career_one_crawler.py:1168-1183)
    min_s, max_s = cf.salary_exprs(
        F.col("min_salary"),
        F.col("max_salary"),
        F.lit(None).cast("double"),
        post_validate=False,
    )
    return c1_jobs.withColumnRenamed("contract_type_raw", "_ct").select(
        F.lit("careerone").alias("site"),
        c["url_n"].alias("url"),
        c["location_n"].alias("location"),
        c["searched_location_n"].alias("searched_location"),
        c["role_n"].alias("role"),
        c["searched_role_n"].alias("searched_role"),
        c["company_n"].alias("company"),
        c["listed_date"].alias("listed_date"),
        F.col("listed_date_raw").alias("raw_listed_date"),
        c["crawled_date"].alias("crawled_date"),
        min_s.cast("int").alias("min_salary"),
        max_s.cast("int").alias("max_salary"),
        c["contract_type"].alias("contract_type"),
        F.lit(1).alias("number_of_experience"),
        c["job_type"].alias("job_type"),
        F.lit(True).alias("is_working_right"),
        cf.normalize_text(F.lit("")).alias("raw_content_file"),
        c["level"].alias("level"),
        F.lit(None).cast("string").alias("extraction_role"),
        cf.normalize_skills(F.col("skills")).alias("skills"),
        F.lit(rnd).alias("round"),
        F.col("job_idx"),
    )


def merge_job_metadata(existing: DataFrame | None, new_rows: DataFrame) -> DataFrame:
    """Q8 natural-key upsert as a window dedup: latest round wins per
    (crawled_website_id, location, role, company, listed_date,
    contract_type); deterministic tiebreak inside a round."""
    if existing is not None and "job_idx" not in existing.columns:
        existing = existing.withColumn("job_idx", F.lit(None).cast("int"))
    merged = new_rows if existing is None else existing.unionByName(new_rows)
    w = Window.partitionBy(*NATURAL_KEY).orderBy(
        F.col("round").desc(),
        F.col("url").desc(),
        F.col("job_idx").desc_nulls_last(),
    )
    return (
        merged.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


N_MERGE_BUCKETS = 64


def natural_key_bucket(n_buckets: int = N_MERGE_BUCKETS):
    """Stable hash bucket of the natural key (xxhash64 is
    deterministic across sessions) — the table's physical partitioning
    for incremental merges."""
    key = F.concat_ws(
        "\x1f",
        *[F.coalesce(F.col(k).cast("string"), F.lit("")) for k in NATURAL_KEY],
    )
    return F.pmod(F.xxhash64(key), F.lit(n_buckets)).cast("int")


def merge_round(
    catalog, spark: SparkSession, parsed: DataFrame, c1_jobs: DataFrame | None, rnd: int,
    n_buckets: int = N_MERGE_BUCKETS,
) -> None:
    dim = F.broadcast(website_dim(spark))
    rows = build_seek_jora_metadata(
        parsed.filter(F.col("site").isin("seek", "jora")), rnd
    )
    if c1_jobs is not None:
        rows = rows.unionByName(build_careerone_metadata(c1_jobs, rnd))
    # Q9 dim lookup: broadcast join, default −1 (utils.py:187-196,
    # career_one_crawler.py:1167)
    rows = rows.join(dim, "site", "left").withColumn(
        "crawled_website_id", F.coalesce("crawled_website_id", F.lit(-1))
    )
    # C13 deterministic id over site + natural key (uuid4 replacement)
    rows = rows.withColumn(
        "id",
        F.sha2(
            F.concat_ws(
                "",
                F.col("site"),
                *[F.col(k).cast("string") for k in NATURAL_KEY],
            ),
            256,
        ),
    ).select(*JOB_METADATA_COLS, "job_idx")
    # bucketed upsert: only hash buckets containing a new natural key
    # are read back, merged and rewritten — O(touched) per round, the
    # offline MERGE INTO (untouched buckets keep their immutable files;
    # at 10^10 rows this is the difference between an O(delta) commit
    # and rewriting the whole table every round, docs/SCALE.md).
    # rows feed two actions (touched-bucket collection + the bucketed
    # write): pin them with a lazy localCheckpoint so the parse/join/id
    # chain runs once and the write plans against a LogicalRDD scan,
    # not the round's whole upstream plan
    rows = rows.withColumn(
        "_bucket", natural_key_bucket(n_buckets)
    ).localCheckpoint(eager=False)
    try:
        touched = sorted(
            r["_bucket"] for r in rows.select("_bucket").distinct().collect()
        )
        existing = None
        if catalog.exists("job_metadata"):
            if catalog.is_bucketed_as_of("job_metadata", rnd - 1):
                # O(touched) read: ONLY the touched buckets' files are
                # scanned (catalog-level dir pruning — a bucket filter on
                # a full read would still scan every file)
                existing = catalog.read_buckets("job_metadata", rnd - 1, touched)
                if existing is not None:
                    existing = existing.withColumn(
                        "_bucket", natural_key_bucket(n_buckets)
                    )
            else:
                # one-time migration from an unbucketed snapshot: full
                # rewrite, every populated bucket is touched
                existing = catalog.read_as_of_round("job_metadata", rnd - 1)
                if existing is not None:
                    existing = existing.withColumn(
                        "_bucket", natural_key_bucket(n_buckets)
                    )
                    touched = sorted(
                        set(touched)
                        | {
                            r["_bucket"]
                            for r in existing.select("_bucket").distinct().collect()
                        }
                    )
        merged = merge_job_metadata(existing, rows).drop("job_idx")
        catalog.write_bucketed(
            "job_metadata", merged, touched, round_no=rnd, base_round=rnd - 1
        )
    finally:
        release_frames(rows)


# ---------------------------------------------------------------------------
# Enrichment jobs (Q6/Q7): role_extraction / level_extraction DAGs as
# set-based column updates (no per-row UPDATE loops).
# ---------------------------------------------------------------------------


def enrich_extraction_role(job_metadata: DataFrame) -> DataFrame:
    """role_extraction.py:21-52: rows WHERE extraction_role IS NULL OR
    'uncategorized' get categorize_it_role(role) (C6)."""
    todo = F.col("extraction_role").isNull() | (
        F.col("extraction_role") == "uncategorized"
    )
    return job_metadata.withColumn(
        "extraction_role",
        F.when(todo, cf.categorize_it_role(F.col("role"))).otherwise(
            F.col("extraction_role")
        ),
    )


def enrich_level(job_metadata: DataFrame) -> DataFrame:
    """level_extraction.py:22-53: rows WHERE level IS NULL get
    get_level_from_role(role) (C5)."""
    return job_metadata.withColumn(
        "level",
        F.when(
            F.col("level").isNull(), cf.level_from_role(F.col("role"))
        ).otherwise(F.col("level")),
    )


# ---------------------------------------------------------------------------
# Analytics views (S12/Q1-Q5) — dags/crawler/analytics_view.py:21-202.
# ---------------------------------------------------------------------------

ROLE_SKILL_VIEWS = {
    "data_engineer_skills": "data engineer",
    "ai_engineer_skills": "ai engineer",
    "full_stack_skills": "full stack engineer",
    "backend_engineer_skills": "backend engineer",
    "frontend_engineer_skills": "frontend engineer",
    "devops_engineer_skills": "devops engineer",
    "cybersecurity_engineer_skills": "cyber security engineer",
}


def skills_view(job_metadata: DataFrame) -> DataFrame:
    """The reference's skills child table (S10): explode of the array
    column; set-dedup already applied by normalize_skills (C16)."""
    return job_metadata.select(
        F.col("id").alias("job_id"), F.explode("skills").alias("skill")
    )


def register_views(spark: SparkSession, job_metadata: DataFrame) -> None:
    """CREATE OR REPLACE (temp) VIEW for all 9 reference views. The
    reference's name-collision bug (role_and_skills created under the
    name data_engineer_skills, analytics_view.py:188-197) is NOT
    reproduced — the intended view is created (SURVEY Q4)."""
    job_metadata.createOrReplaceTempView("job_metadata")
    skills_view(job_metadata).createOrReplaceTempView("skills")
    for view, role in ROLE_SKILL_VIEWS.items():
        spark.sql(
            f"""CREATE OR REPLACE TEMPORARY VIEW {view} AS
            WITH de_job_metadata AS (
                SELECT id FROM job_metadata WHERE searched_role = '{role}'
            )
            SELECT A.id, B.skill
            FROM de_job_metadata A JOIN skills B ON A.id = B.job_id"""
        )
    spark.sql(
        """CREATE OR REPLACE TEMPORARY VIEW salary_skills AS
        WITH salary_skills_metadata AS (
            SELECT id,
                   (COALESCE(max_salary, 0) + COALESCE(min_salary, 0)) / 2
                       AS salary
            FROM job_metadata
            WHERE min_salary IS NOT NULL AND max_salary IS NOT NULL
        )
        SELECT A.id, A.salary, B.skill
        FROM salary_skills_metadata A JOIN skills B ON A.id = B.job_id"""
    )
    spark.sql(
        """CREATE OR REPLACE TEMPORARY VIEW role_and_skills AS
        SELECT A.id, A.extraction_role, B.skill
        FROM (SELECT id, extraction_role FROM job_metadata) A
        JOIN skills B ON A.id = B.job_id"""
    )
