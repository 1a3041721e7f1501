"""Workload census: per query, the Python operators in its physical plan and
the Spark jobs it runs while its plan is built and while it executes.

    python3 perfbench/census.py > perfbench/CENSUS.json

Runs every mix member, plus the other candidates each mix was chosen from,
once on the seed-0 corpus at sf0.001 with the Spark event log on. The
record shows which queries do Python-kernel work; it is not a gate.
"""

from __future__ import annotations

import sys

sys.dont_write_bytecode = True

import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: candidates from the same classes that the mixes leave out (run time)
OTHER_JVM = ("sql_market_share", "sql_min_cost_supplier", "join_inner_multi",
             "grouping_rollup", "streaming_interval_join", "sessionize",
             "bfs_reach")
OTHER_PYTHON = ("multimodal_pipeline", "dedup_minhash_lsh", "dedup_simhash",
                "dedup_near_ngram", "similarity_ivf", "similarity_ann_lsh")


def main() -> None:
    import datagen
    from tracing import parse_event_log, python_node_count, span_jobs
    from workloads import LLM_PIPELINE, RELATIONAL_MIX, Run, hermetic_tmp

    tmp = hermetic_tmp(ROOT, "census")
    try:
        import __spark_entry__ as entry

        run = Run("census", 0, 0, True, tmp)  # traced session, no workload
        datagen.generate(run.corpus, 0, 0.001)
        run.start()
        queries = entry.queries()
        classes = {**{n: "relational_mix" for n in RELATIONAL_MIX},
                   **{n: "llm_pipeline" for n in LLM_PIPELINE},
                   **{n: "jvm_candidate" for n in OTHER_JVM},
                   **{n: "python_candidate" for n in OTHER_PYTHON}}
        nodes, spans = {}, {}
        for name in classes:
            with run.tracer.span(f"{name}.build", "plans") as b:
                df = queries[name](run.spark, run.corpus)
            with run.tracer.span(f"{name}.exec", "plans") as e:
                df.write.format("noop").mode("overwrite").save()
            nodes[name] = python_node_count(df)
            spans[name] = (b, e)
            df = None
        run.stop()
        jobs, _ = parse_event_log(os.path.join(tmp, "events"))
        by_span = span_jobs(run.tracer.spans, jobs)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps({
        "corpus": "perfbench/datagen.py seed 0, sf0.001",
        "queries": {n: {"class": classes[n], "python_nodes": nodes[n],
                        "build_jobs": len(by_span[b.id]),
                        "exec_jobs": len(by_span[e.id])}
                    for n, (b, e) in spans.items()},
    }, indent=2))


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    main()
