"""Record the corpus_pipeline oracle in ``expected.json``.

    python3 perfbench/record_expected.py

Runs the corpus pipeline on the fixed corpus in two row orders, requires
both to give the same output, and writes the output's row count and
order-independent digest plus the MinHash-LSH pair count. Re-record only
when the corpus generator changes, never to make a failing check pass: the
digest is the oracle the benchmark checks the engine against.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import run


def main() -> int:
    work = run.ROOT / ".perfbench_work" / "record_expected"
    run.make_work_dir(work)
    import __spark_entry__
    from crawlspark import textops

    import corpus
    from spans import patched

    spark = run.start_spark(work, len(os.sched_getaffinity(0)), trace=False)
    try:
        digests = set()
        for seed in (0, 1):
            corpus.write_documents(str(work / "corpus"), seed)
            rows = __spark_entry__.queries()["corpus_pipeline"](
                spark, str(work / "corpus")
            ).collect()
            digests.add((len(rows), corpus.digest(rows)))
        pairs = []

        def counted(*args, **kwargs):
            out = original(*args, **kwargs).localCheckpoint(eager=True)
            pairs.append(out.count())
            return out

        original = textops.minhash_lsh_pairs
        with patched(textops, "minhash_lsh_pairs", counted):
            __spark_entry__.corpus_pipeline_staged(spark, str(work / "corpus"))
    finally:
        run.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    if len(digests) != 1:
        print(f"output depends on input row order: {digests}", file=sys.stderr)
        return 1
    (n_rows, sha), = digests
    with open(corpus.EXPECTED_PATH, "w") as f:
        json.dump(
            {corpus.CorpusWorkload.name: {"rows": n_rows, "sha256": sha, "lsh_pairs": pairs[0]}},
            f,
            indent=2,
        )
        f.write("\n")
    print(f"rows={n_rows} sha256={sha} lsh_pairs={pairs[0]}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
