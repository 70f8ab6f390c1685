"""One Spark driver process of the benchmark: ``python3 worker.py SPEC OUT``.

``run.py`` writes the inputs, then starts this script once per measured
process with a JSON spec; the script runs one workload through the
engine's public API and writes what it measured, plus the raw outputs the
correctness gates need, as JSON to ``OUT``. It never sees ground truth.

Untraced processes build the session with ``get_spark()`` exactly as a
user would. A traced process (``spec["trace"]``) additionally enables the
UI (the status REST API is the per-layer counter source), wraps each
layer call in a span whose name is the Spark job group, and materializes
every layer's output so its jobs run inside its span.
"""

from __future__ import annotations

import hashlib
import json
import os
import resource
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import trace as T  # noqa: E402

ETL_LAYERS = ("xml_source", "drugbank", "ner.sentences", "ner.spot", "linker",
              "synonymizer.align", "ner.merge", "alignment", "pipelines.sink")
SERVE_LAYERS = ("synonymizer.lookup",)
LINK_THRESHOLD, LINK_K = 0.7, 1


def start_session(traced: bool):
    from drugbankner_spark.session import get_spark

    t = time.perf_counter()
    if traced:
        spark = get_spark(app_name="perfbench-traced", extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.port": "0",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.ui.retainedTasks": "1000000",
        })
    else:
        spark = get_spark(app_name="perfbench")
    return spark, time.perf_counter() - t


def peak_rss_mb(spark) -> float:
    """Driver JVM high-water RSS + this Python process's."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def job_latency_ms(spark, n: int = 7) -> float:
    """Median wall time of a no-op job (a one-row range count)."""
    spark.range(1).count()
    xs = []
    for _ in range(n):
        t = time.perf_counter()
        spark.range(1).count()
        xs.append((time.perf_counter() - t) * 1000.0)
    return statistics.median(xs)


def note(msg: str) -> None:
    """A progress line; run.py echoes these from the worker log."""
    print(f"perfbench: {msg}", flush=True)


def dir_mb(path: str) -> float:
    total = 0
    for dp, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dp, f)) for f in files)
    return total / 1e6


def traced_layers(spark, tracer, layers) -> dict:
    """The per-layer counters of every span so far, plus the session's
    no-op job latency and the run's total shuffle volume."""
    counters = T.rest_counters(spark)
    out = T.layer_metrics(tracer, counters,
                          int(os.environ["SPARK_GRAFT_CPUS"]), layers)
    out["session.job_latency_ms"] = job_latency_ms(spark)
    out["_shuffle_mb"] = sum(c["shuffle_write_mb"] for c in counters.values())
    return out


class Stage:
    """Runs one named layer call. Untraced: returns the lazy DataFrame as
    is, so the whole job stays one fused plan. Traced: opens the layer's
    span and materializes the output inside it with an eager local
    checkpoint, which also cuts the lineage, so later layers plan only
    their own operators over it."""

    def __init__(self, tracer=None):
        self.tracer = tracer

    def __call__(self, name, fn):
        if self.tracer is None:
            return fn()
        with self.tracer.span(name):
            df = fn().localCheckpoint(eager=True)
            rows = self.tracer.rows
            rows[name] = rows.get(name, 0) + df.count()
        return df


# ---------------------------------------------------------------------------
# etl_drugbank
# ---------------------------------------------------------------------------


def etl_pipeline(spark, spec, stage: Stage, out_path: str):
    """XML + dims on disk → aligned reference table committed as Parquet."""
    from pyspark.sql import functions as F

    from drugbankner_spark import pipelines as P
    from drugbankner_spark.functions.normalize import remove_brackets
    from drugbankner_spark.operators import ner as NER
    from drugbankner_spark.operators.drugbank import extract_drug_records
    from drugbankner_spark.operators.synonymizer import Synonymizer
    from drugbankner_spark.sources.xml_source import (
        normalize_drugs,
        read_drugbank_xml,
    )

    syn = Synonymizer(spark.read.parquet(spec["nodes"]),
                      spark.read.parquet(spec["clusters"]))
    ids = ["kg2_id"]
    drugs = stage("xml_source", lambda: normalize_drugs(
        read_drugbank_xml(spark, spec["xml"])))
    records = stage("drugbank", lambda: extract_drug_records(drugs, syn))

    def branch(src, text, cats):
        sents = stage("ner.sentences",
                      lambda: NER.prepare_sentences(src, text, ids))
        spotted = stage("ner.spot", lambda: NER.spot_mentions(
            sents, "sentence", ids, syn.nodes.select("name"), "name",
            max_tokens=4))
        linked = stage("linker", lambda: NER.link_entities_tfidf(
            spotted, syn.nodes.select("id", "name"),
            threshold=LINK_THRESHOLD, k=LINK_K))
        aligned = stage("synonymizer.align",
                        lambda: NER.align_detected(linked, syn, ids))
        merged = stage("ner.merge",
                       lambda: NER.merge_longest_name(aligned, ids, cats))
        return sents, spotted, linked, aligned, merged

    ind = branch(
        records.filter(F.col("indication").isNotNull()
                       & (F.col("indication") != "")),
        remove_brackets(F.col("indication")), NER.DISEASE_CATEGORIES)
    mech = branch(records, P.mechanistic_text(), NER.MECHANISTIC_CATEGORIES)
    mech_nodes = stage("alignment", lambda: P.run_ep2(records, mech[-1], syn))

    def sink():
        P.checkpoint(P.assemble_reference_json(records, ind[-1], mech_nodes),
                     out_path)

    if stage.tracer is None:
        sink()
    else:
        with stage.tracer.span("pipelines.sink"):
            sink()
    return syn, drugs, records, ind, mech


def _canon(v):
    if hasattr(v, "asDict"):
        v = v.asDict()
    if isinstance(v, dict):
        return sorted((k, _canon(x)) for k, x in v.items())
    if isinstance(v, (list, tuple)):
        return [_canon(x) for x in v]
    return v


def output_digest(spark, path: str) -> tuple[str, list[str]]:
    """sha256 over the committed table's rows in a canonical order."""
    rows = [_canon(r) for r in spark.read.parquet(path).collect()]
    blobs = sorted(json.dumps(r, default=str) for r in rows)
    dbids = [dict(r)["drug_bank_id"] for r in rows]
    return hashlib.sha256("\n".join(blobs).encode()).hexdigest(), dbids


def etl_ratios(syn, drugs, records, ind, mech) -> dict:
    """Layer hit ratios from the traced run's checkpointed layer outputs
    (small: collected and counted driver-side)."""
    from pyspark.sql import functions as F

    from drugbankner_spark.functions.identifiers import (
        extract_identifier_candidates,
        is_curie,
    )
    from drugbankner_spark.operators.alignment import align_bare_ids

    def rows(i, *cols):
        return [tuple(r) for b in (ind, mech) for r in b[i].select(*cols).collect()]

    def ratio(a, b):
        return a / b if b else 0.0

    with_id = sum(1 for (ids,) in drugs.select("drugbank_ids").collect()
                  if ids and ids[0] is not None)
    sents = set(rows(0, "kg2_id", "sentence"))
    spotted = rows(1, "kg2_id", "sentence", "entity_text")
    linked = rows(2, "kg2_id", "sentence", "entity_text", "kb_id")
    mentions = {e for _, _, e in spotted if e is not None}
    # the EP2 id path's regex candidates, as align_bare_ids derives them
    bare = None
    for field in ("targets", "enzymes", "carriers", "transporters"):
        b = records.select(F.explode(F.col(field)["ids"]).alias("_id"))
        bare = b if bare is None else bare.unionByName(b)
    bare = bare.filter(F.col("_id").isNotNull() & ~is_curie(F.col("_id")))
    return {
        "drugbank.anchor_ratio": ratio(records.count(), with_id),
        "ner.spot.hit_ratio": ratio(
            len({(k, s) for k, s, e in spotted if e is not None}), len(sents)),
        "linker.link_ratio": ratio(
            len({e for _, _, e, kb in linked if kb is not None}), len(mentions)),
        "synonymizer.hit_ratio": ratio(
            len(set(rows(3, "kg2_id", "entity_text"))),
            len({(k, e if e is not None else s) for k, s, e, _ in linked})),
        "alignment.id_hit_ratio": ratio(
            align_bare_ids(records, syn, "kg2_id").count(),
            extract_identifier_candidates(bare, "_id").count()),
    }


def run_etl(spec) -> dict:
    from drugbankner_spark.operators.alignment import align_names

    spark, session_s = start_session(spec["trace"])
    tracer = T.Tracer(spark, spec["run_id"]) if spec["trace"] else None
    out_path = os.path.join(spec["work"], "etl_out")
    t = time.perf_counter()
    syn, drugs, records, ind, mech = etl_pipeline(
        spark, spec, Stage(tracer), out_path)
    wall = time.perf_counter() - t
    note(f"session {session_s:.1f}s, etl job {wall:.1f}s")
    res = {"session_s": session_s, "etl_s": wall,
           "peak_rss_mb": peak_rss_mb(spark)}
    if tracer:
        t = time.perf_counter()
        layers = traced_layers(spark, tracer, ETL_LAYERS)
        note(f"rest counters {time.perf_counter() - t:.1f}s")
        t = time.perf_counter()
        layers.update(etl_ratios(syn, drugs, records, ind, mech))
        note(f"layer ratios {time.perf_counter() - t:.1f}s")
        layers["pipelines.sink.write_mb"] = dir_mb(out_path)
        layers["unattributed_s"] = wall - sum(tracer.self_times().values())
        res["layers"] = layers
        tracer.dump(spec["spans"])
    t = time.perf_counter()
    res["digest"], res["drug_ids"] = output_digest(spark, out_path)
    res["name_hits"] = sorted(
        [r["kg2_id"], r["curie"]] for r in
        align_names(records, syn, "kg2_id").select("kg2_id", "curie")
        .distinct().collect())
    note(f"gate outputs {time.perf_counter() - t:.1f}s")
    if tracer:
        res["layers"]["pipelines.sink.rows_out"] = len(res["drug_ids"])
    spark.stop()
    return res


# ---------------------------------------------------------------------------
# serve_lookup
# ---------------------------------------------------------------------------


def run_serve(spec) -> dict:
    from drugbankner_spark.operators.synonymizer import Synonymizer

    spark, session_s = start_session(spec["trace"])
    tracer = T.Tracer(spark, spec["run_id"]) if spec["trace"] else None
    syn = Synonymizer(spark.read.parquet(spec["nodes"]),
                      spark.read.parquet(spec["clusters"]))
    with open(spec["requests"]) as f:
        requests = json.load(f)

    def lookup(ents):
        df = spark.createDataFrame([(e,) for e in ents], "entity string")
        return [[r["entity"], r["preferred_curie"], r["preferred_name"],
                 r["preferred_category"], r["matched_via"]]
                for r in syn.canonical_lookup(df, "entity").collect()]

    t = time.perf_counter()
    for ents in requests[:spec["warmup"]]:
        lookup(ents)
    note(f"session {session_s:.1f}s, warm-up {time.perf_counter() - t:.1f}s")
    done = []
    t0 = time.perf_counter()
    for ents in requests[spec["warmup"]:]:
        if done and time.perf_counter() - t0 >= spec["seconds"]:
            break
        t = time.perf_counter()
        if tracer is None:
            rows = lookup(ents)
        else:
            with tracer.span("synonymizer.lookup"):
                rows = lookup(ents)
            tracer.rows["synonymizer.lookup"] = (
                tracer.rows.get("synonymizer.lookup", 0) + len(rows))
        done.append({"entities": ents, "rows": rows,
                     "ms": (time.perf_counter() - t) * 1000.0})
    window = time.perf_counter() - t0
    res = {"session_s": session_s, "requests": done,
           "peak_rss_mb": peak_rss_mb(spark)}
    if tracer:
        layers = traced_layers(spark, tracer, SERVE_LAYERS)
        layers["synonymizer.lookup.busy_ms"] = statistics.median(
            r["ms"] for r in done)
        layers["synonymizer.lookup.jobs_per_req"] = (
            layers["synonymizer.lookup.jobs"] / len(done))
        rows = [x for r in done for x in r["rows"]]
        layers["synonymizer.lookup.hit_ratio"] = (
            sum(1 for x in rows if x[1] is not None) / len(rows))
        layers["unattributed_s"] = window - sum(tracer.self_times().values())
        res["layers"] = layers
        tracer.dump(spec["spans"])
    spark.stop()
    return res


WORKLOADS = {"etl_drugbank": run_etl, "serve_lookup": run_serve}


def main() -> None:
    with open(sys.argv[1]) as f:
        spec = json.load(f)
    res = WORKLOADS[spec["workload"]](spec)
    with open(sys.argv[2], "w") as f:
        json.dump(res, f)


if __name__ == "__main__":
    main()
