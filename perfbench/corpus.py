"""``corpus_pipeline`` workload: the end-to-end corpus preparation query.

One unit is one pass of ``__spark_entry__.queries()["corpus_pipeline"]``
(PII redaction -> repetition filter -> boilerplate removal -> exact dedup ->
MinHash-LSH near-dup clustering -> hash sample) over a fixed 5,000-document
corpus, collected to the driver. It is the only workload that runs
``corpusops``/``textops`` and the no-change control for crawl-layer changes.

The corpus content is fixed, so the output can be checked against a digest
recorded from the engine (``expected.json``): the DuckDB twin of this query
is far too slow to serve as a per-run oracle. The workload seed permutes the
row order of the input file; the pipeline's output must not depend on it.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import time

import pyarrow as pa
import pyarrow.parquet as pq

N_DOCS = 5000
CONTENT_SEED = 20240302
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en"] * 41 + ["zh"] * 15 + ["es"] * 15 + ["fr"] * 15 + ["de"] * 14
FOOTER = "subscribe to the data newsletter for weekly updates"
EXPECTED_PATH = os.path.join(os.path.dirname(__file__), "expected.json")

# Stage names returned by __spark_entry__.corpus_pipeline_staged, by layer.
STAGE_METRICS = {
    "pii_redact": "corpusops.pii_redact_s",
    "repetition_filter": "corpusops.repetition_filter_s",
    "boilerplate": "corpusops.boilerplate_s",
    "exact_dedup": "textops.exact_dedup_s",
    "lsh_pairs": "textops.lsh_pairs_s",
    "components_reps": "textops.components_reps_s",
    "sample_join": "corpusops.sample_join_s",
}


def documents() -> list[tuple]:
    """The fixed corpus: word-soup documents in five languages, with
    planted near-duplicates (an earlier text plus one token), exact
    duplicates, highly repetitive documents and a shared footer, so every
    stage of the pipeline has work to remove."""
    rng = random.Random(CONTENT_SEED)
    texts: list[str] = []
    for i in range(N_DOCS):
        r = rng.random()
        if i > 50 and r < 0.05:
            text = texts[rng.randrange(i)] + " dup"
        elif i > 50 and r < 0.055:
            text = texts[rng.randrange(i)]
        elif r < 0.085:
            phrase = " ".join(rng.choice(VOCAB) for _ in range(3))
            text = " ".join([phrase] * rng.randint(6, 20))
        else:
            text = " ".join(rng.choice(VOCAB) for _ in range(rng.randint(10, 100)))
            if r > 0.9:
                text = f"{text} {FOOTER}"
        texts.append(text)
    return [
        (i, t, rng.choice(LANGS), f"src{i % 20}", len(t)) for i, t in enumerate(texts)
    ]


def write_documents(sf_dir: str, seed: int) -> None:
    rows = documents()
    random.Random(seed).shuffle(rows)
    cols = list(zip(*rows))
    table = pa.table(
        {
            "doc_id": pa.array(cols[0], pa.int64()),
            "text": pa.array(cols[1], pa.string()),
            "lang": pa.array(cols[2], pa.string()),
            "source": pa.array(cols[3], pa.string()),
            "n_chars": pa.array(cols[4], pa.int64()),
        }
    )
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(table, os.path.join(sf_dir, "documents.parquet"))


def digest(rows) -> str:
    """Order-independent digest of the pipeline's output rows."""
    canon = sorted(json.dumps(list(r), default=str) for r in rows)
    return hashlib.sha256("\n".join(canon).encode()).hexdigest()


class CorpusWorkload:
    name = "corpus_pipeline"
    # The first pass pays JIT and codegen (~2.5x a warm pass) and the
    # second still runs ~15% slower than later ones; both are set-up. Two
    # timed passes (~17 s) follow: a single ~8 s pass follows the host's
    # speed swings too closely (spread 0.32 over ten seeds, against 0.12
    # for two), and a varying pass count moves the median.
    warmup_units = 2

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.sf_dir = os.path.join(work, "corpus")
        with open(EXPECTED_PATH) as f:
            self.expected = json.load(f)[self.name]

    def prepare_inputs(self) -> None:
        write_documents(self.sf_dir, self.seed)

    def build_state(self) -> None:
        import __spark_entry__

        self.query = __spark_entry__.queries()["corpus_pipeline"]

    def run_unit(self) -> tuple[float, int, bool]:
        t0 = time.perf_counter()
        rows = self.query(self.spark, self.sf_dir).collect()
        wall = time.perf_counter() - t0
        ok = len(rows) == self.expected["rows"] and digest(rows) == self.expected["sha256"]
        return wall, N_DOCS, ok

    def run_traced_unit(self, tracer, udf_profile) -> tuple[float, int, bool, dict]:
        """The same DAG with an eager checkpoint at every stage boundary
        (``corpus_pipeline_staged``), which returns each stage's wall time.
        MinHash pairs and the components loop are wrapped for their pair
        count and Spark job count; the traced unit is checked by its pair
        count."""
        import __spark_entry__
        from crawlspark import textops

        from spans import TRACE_GROUP, patched

        pairs: list[int] = []
        lsh = tracer.wrap(
            textops.minhash_lsh_pairs,
            "textops.lsh",
            lambda out, _a, _kw: pairs.append(tracer.count(out)),
        )
        comps = tracer.wrap(textops.dup_clusters, "textops.components")
        t0 = time.perf_counter()
        with patched(textops, "minhash_lsh_pairs", lsh), patched(
            textops, "dup_clusters", comps
        ):
            with tracer.span("corpus.staged"):
                times = __spark_entry__.corpus_pipeline_staged(self.spark, self.sf_dir)
        wall = time.perf_counter() - t0
        metrics = {STAGE_METRICS[k]: v for k, v in times.items()}
        # the pair count ran inside the lsh_pairs interval: take it out
        metrics["textops.lsh_pairs_s"] -= tracer.span_seconds().get(TRACE_GROUP, 0.0)
        metrics["textops.lsh_pairs"] = sum(pairs)
        metrics["textops.components_jobs"] = tracer.jobs_by_group().get(
            "textops.components", 0
        )
        metrics["spark.python_udf_s"] = udf_profile(set())["total"]
        ok = pairs == [self.expected["lsh_pairs"]]
        return wall, N_DOCS, ok, metrics
