"""The benchmark's workloads: seeded inputs, the measured calls into the
package's public functions, and the correctness checks.

Both workloads run the same closed loop, one call at a time:

1. set up ``SETUP_REPS`` times from scratch (median reported);
2. run the workload's pipeline job once, cold, as a batch process runs it:
   ``pipeline.run_retention`` on the bootstrapped store (``backfill``), or
   ``pipeline.run_incremental`` of one daily delta with its default
   merge-on-read publish (``cdc``);
3. traced runs only: passes of the read mix (a 10-key lookup, a full scan,
   a change-feed read) until ``seconds`` have passed since the job started,
   at least one (in ``cdc`` the store still carries the delta's files);
4. ``cdc`` only: ``compact_keyed_table`` once;
5. check every output against the DuckDB oracle.

Traced runs of ``backfill`` also run the ``corpus`` phase (near-dup and
BM25 index build, one batch of probe / upsert / append / search).
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import duckdb
import numpy as np
import pyarrow as pa

import gen
from spans import Tracer

from es_household_retention_spark_job_spark import oracle
from es_household_retention_spark_job_spark import pipeline as P
from es_household_retention_spark_job_spark.operators import dedup as D
from es_household_retention_spark_job_spark.operators import retention as R
from es_household_retention_spark_job_spark.operators import search as S
from es_household_retention_spark_job_spark.sinks import upsert as U

SETUP_REPS = 3
KEYSETS = 64
N_BUCKETS = 16
LOOKUP_KEYS = 10
SEARCH_K = 10

#: input sizes; ``tiny`` is for the benchmark's own smoke tests
SIZES = {
    "full": {"persons": 3000, "epp": 10, "delta_hh_frac": 0.01,
             "docs": 2000, "doc_batch": 200},
    "tiny": {"persons": 400, "epp": 6, "delta_hh_frac": 0.02,
             "docs": 300, "doc_batch": 40},
}

def trace_targets():
    """The package functions a traced run wraps in spans. The pipeline's
    own module-level references are patched too: that is what it calls."""
    return [
        (P, "run_retention", "pipeline.run_retention"),
        (P, "run_incremental", "pipeline.run_incremental"),
        (P, "run_phase1", "pipeline.phase1"),
        (P, "run_phase2", "pipeline.phase2"),
        (P, "_guarded_person_count", "pipeline.guard"),
        (R, "check_phase2_invariant", "pipeline.guard"),
        (P, "upsert_parquet", "sink.publish"),
        (U, "write_keyed_table", "sink.bootstrap"),
        (U, "compact_keyed_table", "sink.compact"),
        (U, "read_changes", "sink.changes"),
        (D, "build_neardup_index", "dedup.build"),
        (D, "upsert_neardup_docs", "dedup.upsert"),
        (D, "neardup_probe", "dedup.probe"),
        (S, "build_text_index", "search.build"),
        (S, "append_text_index", "search.append"),
        (S, "bm25_search_indexed", "search.query"),
    ]


@dataclass
class Run:
    spark: object
    tracer: Tracer
    work: str
    seed: int
    seconds: float
    size: dict
    session_s: float
    samples: dict = field(default_factory=dict)  # timings by op
    layer: dict = field(default_factory=dict)  # traced per-layer values
    props: dict = field(default_factory=dict)
    checks: list = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    passes: int = 0
    t_job: float = 0.0  # when the measured job started

    def path(self, *parts) -> str:
        return os.path.join(self.work, *parts)

    def op(self, name: str, fn, *args, **kw):
        """Call ``fn`` as one attempted operation, timing it into
        ``samples``. Exceptions count as failures."""
        self.attempted += 1
        with self.tracer.span(f"op.{name}"):
            t0 = time.perf_counter()
            try:
                out = fn(*args, **kw)
            except Exception as e:  # a failed call is a measured outcome
                self.failed += 1
                self.checks.append({"check": f"{name} raised", "ok": False,
                                    "detail": f"{type(e).__name__}: {e}"[:500]})
                raise
            dt = time.perf_counter() - t0
        self.samples.setdefault(name, []).append(dt)
        return out

    def check(self, name: str, ok: bool, detail="") -> None:
        self.attempted += 1
        self.failed += 0 if ok else 1
        self.checks.append({"check": name, "ok": bool(ok), "detail": detail})

    def setup(self, fn) -> None:
        """Run ``fn(rep)`` ``SETUP_REPS`` times; each rep builds the inputs
        and store from scratch into its own directory."""
        times = []
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            fn(rep)
            times.append(time.perf_counter() - t0)
        self.samples["setup"] = times

    def job(self, fn, *args):
        """The workload's pipeline job: measured once."""
        self.t_job = time.perf_counter()
        try:
            return self.op("job", fn, *args)
        finally:
            self.tracer.harvest()

    def read_passes(self, one_pass) -> None:
        """Read passes until ``seconds`` have passed since the job started,
        at least one: the measured phase is the job plus the reads."""
        while True:
            one_pass()
            self.passes += 1
            self.tracer.harvest()
            if time.perf_counter() >= self.t_job + self.seconds:
                break


# ------------------------------------------------------------------ helpers


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def zipf_keys(seed: int, ids: list[str], n_lookups: int = KEYSETS) -> list[list[str]]:
    """Zipf(1.1)-skewed distinct key sets over a seeded ranking of ``ids``."""
    rng = np.random.default_rng([seed, 4])
    ranked = np.array(ids, dtype=object)[rng.permutation(len(ids))]
    w = 1.0 / np.arange(1, len(ids) + 1) ** 1.1
    w /= w.sum()
    k = min(LOOKUP_KEYS, len(ids))
    return [sorted(ranked[rng.choice(len(ids), k, replace=False, p=w)].tolist())
            for _ in range(n_lookups)]


def store_files(path: str) -> dict:
    """Live data files of a keyed store per its manifest, with sizes."""
    with open(os.path.join(path, U.MANIFEST_FILE)) as f:
        man = json.load(f)
    files = {
        f"{d}/{name}": os.path.getsize(os.path.join(path, d, name))
        for d, names in man["live"].items()
        for name in names
    }
    deltas = sum(len(v) for v in (man.get("mor_stats") or {}).values())
    return {"files": files, "delta_files": deltas}


def all_files(path: str) -> dict:
    out = {}
    for root, _, names in os.walk(path):
        for n in names:
            p = os.path.join(root, n)
            out[os.path.relpath(p, path)] = os.path.getsize(p)
    return out


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this Python driver plus the driver JVM."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    total = 0
    for pid in ("self", str(jvm_pid)):
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024.0


def _rows(df) -> list[dict]:
    return df.toArrow().to_pylist()


# ------------------------------------------------------------ correctness

_EXPLODE_SQL = """
SELECT person_id, e.date_range.gte AS gte, e.date_range.lte AS lte,
       e.date_range_alt.gte AS agte, e.date_range_alt.lte AS alte,
       e.retained AS retained
FROM (SELECT person_id,
             unnest(CASE WHEN len(coalesce(household_retention_history, [])) = 0
                         THEN [NULL] ELSE household_retention_history END) AS e
      FROM {table})"""


def check_store(run: Run, store: str, persons: pa.Table, encounters: pa.Table,
                label: str) -> bool:
    """The store's histories equal the DuckDB oracle's phase-1 output over
    the same inputs (persons the oracle does not select keep their input
    history). Compared as exploded-row multisets, both directions."""
    con = duckdb.connect()
    try:
        con.register("person", persons)
        con.register("encounter", encounters)
        got = U.read_keyed_table(run.spark, store).select(
            "person_id", "household_retention_history").toArrow()
        run.props["live_rows"] = got.num_rows
        con.register("got_nested", got)
        want = oracle.phase1_sql(gen.CLIENT, gen.AS_OF,
                                 prelude=oracle.fixture_cte(gen.CLIENT, gen.AS_OF))
        con.execute(f"CREATE TEMP TABLE r AS {want}")
        con.execute(f"CREATE TEMP VIEW got AS {_EXPLODE_SQL.format(table='got_nested')}")
        con.execute(f"""CREATE TEMP VIEW want AS
            SELECT person_id, start_date_epoch AS gte, end_date_epoch AS lte,
                   start_date AS agte, end_date AS alte, retained FROM r
            UNION ALL
            {_EXPLODE_SQL.format(table="(SELECT * FROM person WHERE person_id NOT IN (SELECT person_id FROM r))")}""")
        n_got, n_want = (con.execute(f"SELECT count(*) FROM {t}").fetchone()[0]
                         for t in ("got", "want"))
        extra, missing = (con.execute(
            f"SELECT count(*) FROM (SELECT * FROM {a} EXCEPT ALL SELECT * FROM {b})"
        ).fetchone()[0] for a, b in (("got", "want"), ("want", "got")))
        persons_written = con.execute("SELECT count(DISTINCT person_id) FROM r").fetchone()[0]
    finally:
        con.close()
    ok = n_got == n_want and extra == 0 and missing == 0
    run.check(f"{label}: store equals DuckDB oracle", ok,
              {"rows": n_got, "want_rows": n_want, "extra": extra, "missing": missing})
    run.props.setdefault("oracle_persons", persons_written)
    return ok


def reads(run: Run, store: str, keysets: list[list[str]], v_from: int) -> None:
    """The seeded read mix against ``store``, per pass: one Zipf 10-key
    lookup, one full scan and one change-feed read from ``v_from`` to the
    current version. Every lookup is then checked against one full scan of
    the same (unchanging) version."""
    spark, v_to, looked = run.spark, U.current_version(store), []

    def one_pass() -> None:
        keys = keysets[len(looked) % len(keysets)]
        looked.append((keys, run.op(
            "lookup", lambda: _rows(U.read_keyed_table(spark, store, keys=keys)))))
        run.op("scan", lambda: _noop(U.read_keyed_table(spark, store)))
        run.op("changes", lambda: _noop(U.read_changes(spark, store, v_from, v_to)))

    run.read_passes(one_pass)
    full = {r["person_id"]: r for r in _rows(U.read_keyed_table(spark, store))}
    bad = 0
    for keys, got in looked:
        want = sorted((full[k] for k in keys if k in full), key=lambda r: r["person_id"])
        bad += sorted(got, key=lambda r: r["person_id"]) != want
    run.check("lookups equal the filtered full scan", bad == 0,
              {"lookups": len(looked), "mismatched": bad})


# --------------------------------------------------------------- backfill


def backfill(run: Run) -> None:
    sz, spark = run.size, run.spark
    data = {}

    def setup(rep: int) -> None:
        d = gen.people(run.seed, sz["persons"], sz["epp"])
        base = run.path(f"setup{rep}")
        gen.write_parquet(d.persons, os.path.join(base, "person_in"))
        gen.write_parquet(d.encounters, os.path.join(base, "encounter"))
        U.write_keyed_table(spark.read.parquet(os.path.join(base, "person_in")),
                            os.path.join(base, "store"), n_buckets=N_BUCKETS)
        data.update(people=d, base=base)

    run.setup(setup)
    d, base = data["people"], data["base"]
    run.props.update(d.props)
    store, enc = os.path.join(base, "store"), os.path.join(base, "encounter")
    v0 = U.current_version(store)
    before = all_files(store) if run.tracer.enabled else {}
    out = run.job(P.run_retention, spark, store, enc, gen.CLIENT, gen.AS_OF)
    job_written(run, store, before, out)
    if run.tracer.enabled:
        reads(run, store, zipf_keys(run.seed, d.persons.column("person_id").to_pylist()), v0)
    check_store(run, store, d.persons, d.encounters, "backfill")
    run.check("phase 1 processed every oracle person",
              out["phase1_persons"] == run.props["oracle_persons"], out)
    run.props["job_result"] = out
    finish_store(run, store)
    if run.tracer.enabled:
        corpus(run)


# -------------------------------------------------------------------- cdc


def cdc(run: Run) -> None:
    sz, spark = run.size, run.spark
    data = {}

    def setup(rep: int) -> None:
        d = gen.people(run.seed, sz["persons"], sz["epp"], processed_frac=0.0)
        enc0, delta = gen.daily_delta(run.seed, d, sz["delta_hh_frac"])
        base = run.path(f"setup{rep}")
        enc, store = os.path.join(base, "encounter"), os.path.join(base, "store")
        gen.write_parquet(enc0, enc, "base")
        # the store starts as the backfill of the base encounters, computed
        # by the DuckDB oracle (the backfill workload ties it to the job)
        gen.write_parquet(oracle_backfill(d.persons, enc0), os.path.join(base, "person_in"))
        U.write_keyed_table(spark.read.parquet(os.path.join(base, "person_in")), store,
                            n_buckets=N_BUCKETS)
        data.update(people=d, enc0=enc0, delta=delta, enc=enc, store=store)

    run.setup(setup)
    d, enc, store = data["people"], data["enc"], data["store"]
    run.props.update(d.props, delta_household_frac=sz["delta_hh_frac"],
                     delta_rows=data["delta"].num_rows)
    gen.write_parquet(data["delta"], enc, "delta")
    delta = spark.read.parquet(os.path.join(enc, "delta.parquet"))
    before = all_files(store) if run.tracer.enabled else {}
    out = run.job(P.run_incremental, spark, store, enc, delta, gen.CLIENT, gen.AS_OF)
    job_written(run, store, before, out)
    if run.tracer.enabled:
        useful_ratio(run, store, out)
        reads(run, store, zipf_keys(run.seed, d.persons.column("person_id").to_pylist()),
              out["pre_version"])
    pre = store_files(store)
    n = run.op("compact", U.compact_keyed_table, spark, store)
    run.tracer.harvest()
    post = store_files(store)["files"]
    run.layer.update(delta_files=[pre["delta_files"]], compact_buckets=[n],
                     compact_bytes=[sum(v for k, v in post.items() if k not in pre["files"])])
    check_store(run, store, d.persons, pa.concat_tables([data["enc0"], data["delta"]]),
                "cdc")
    run.props["job_result"] = {k: v for k, v in out.items() if k != "pre_version"}
    finish_store(run, store)


def oracle_backfill(persons: pa.Table, encounters: pa.Table) -> pa.Table:
    """The person store after a full backfill, packed by DuckDB from the
    oracle's phase-1 rows in ``pack_history``'s entry order."""
    con = duckdb.connect()
    try:
        con.register("person", persons)
        con.register("encounter", encounters)
        sql = oracle.phase1_sql(gen.CLIENT, gen.AS_OF,
                                prelude=oracle.fixture_cte(gen.CLIENT, gen.AS_OF))
        return con.execute(f"""
            WITH r AS ({sql}),
            h AS (SELECT person_id, list(struct_pack(
                    date_range := struct_pack(gte := start_date_epoch, lte := end_date_epoch),
                    date_range_alt := struct_pack(gte := start_date, lte := end_date),
                    retained := retained) ORDER BY start_date_epoch, end_date_epoch) AS hist
                  FROM r GROUP BY person_id)
            SELECT p.person_id, p.client_code, p.household,
                   coalesce(h.hist, p.household_retention_history)
                       AS household_retention_history
            FROM person p LEFT JOIN h USING (person_id)
            ORDER BY p.person_id""").arrow().cast(gen.PERSON_SCHEMA)
    finally:
        con.close()


def useful_ratio(run: Run, store: str, out: dict) -> None:
    """Persons whose history changed / persons recomputed, from the change
    feed of the maintenance commit (traced runs only, outside any timing)."""
    recomputed = out["phase1_persons"] + out["phase2_persons"]
    if not recomputed:
        return
    changed = (U.read_changes(run.spark, store, out["pre_version"])
               .where("_change_type IN ('insert', 'update_postimage')").count())
    run.layer.setdefault("useful", []).append(changed / recomputed)


def job_written(run: Run, store: str, before: dict, out: dict) -> None:
    """Persons a measured job rewrote and, when traced, the parquet bytes and
    files it added to the store (data, delta and change-capture files)."""
    persons = out["phase1_persons"] + out["phase2_persons"]
    run.layer.setdefault("persons", []).append(persons)
    if run.tracer.enabled:
        new = [v for k, v in all_files(store).items()
               if k.endswith(".parquet") and k not in before]
        run.layer.setdefault("written", []).append((sum(new), len(new), persons))


def finish_store(run: Run, store: str) -> None:
    """Live bytes per live row of the store at workload end."""
    live = store_files(store)
    run.props["store_bytes_per_row"] = sum(live["files"].values()) / max(1, run.props["live_rows"])
    run.props["store_live_files"] = len(live["files"])
    run.props["store_delta_files"] = live["delta_files"]


# ----------------------------------------------------------------- corpus


def corpus(run: Run) -> None:
    """Traced-only phase over the persisted near-dup and BM25 indexes."""
    sz, spark = run.size, run.spark
    c = gen.documents(run.seed, sz["docs"], sz["doc_batch"])
    run.props["corpus"] = c.props
    docs_dir, batch_dir = run.path("docs"), run.path("batch")
    gen.write_parquet(c.base, docs_dir)
    gen.write_parquet(c.batch, batch_dir)
    docs, batch = spark.read.parquet(docs_dir), spark.read.parquet(batch_dir)
    nd, tx = run.path("ndidx"), run.path("txidx")
    run.op("dedup_build", D.build_neardup_index, docs, nd)
    run.op("search_build", S.build_text_index, docs, tx)
    probe = run.op("dedup_probe",
                   lambda: _rows(D.neardup_probe(batch, D.read_neardup_index(spark, nd))))
    run.op("dedup_upsert", D.upsert_neardup_docs, spark, nd, batch)
    run.op("search_append", S.append_text_index, batch, tx)
    got = run.op("search_query", lambda: _rows(
        S.bm25_search_indexed(spark, tx, c.queries, k=SEARCH_K)))
    run.layer["queries"] = len(c.queries)
    # candidates: (new, indexed) pairs sharing a band key, from the index's
    # own band rows and the package's band function
    bands = D.minhash_bands(D.shingle_sets(batch), "doc_id")
    index = D.read_neardup_index(spark, nd).where(f"doc_id < {sz['docs']}")
    run.layer["dedup_candidates"] = (
        bands.join(index.selectExpr("doc_id AS dup_of", "band_key"), "band_key")
        .where("doc_id != dup_of").select("doc_id", "dup_of").distinct().count())
    run.layer["dedup_verified"] = len(probe)
    found = {(r["doc_id"], r["dup_of"]) for r in probe}
    planted = set(c.planted.items())
    recall = len(planted & found) / max(1, len(planted))
    # band LSH misses a pair at Jaccard ~0.9 with probability ~1e-4
    run.check("planted near-dups found by neardup_probe", recall >= 0.95,
              {"planted": len(planted), "found": len(planted & found)})
    want = _rows(S.bm25_search(docs.unionByName(batch), c.queries, k=SEARCH_K))
    key = lambda r: (r["query_id"], r["rank"], r["doc_id"])  # noqa: E731
    run.check("bm25_search_indexed equals scan-based bm25_search",
              sorted(got, key=key) == sorted(want, key=key) and bool(want),
              {"rows": len(got), "want_rows": len(want)})


WORKLOADS = {"backfill": backfill, "cdc": cdc}


# ---------------------------------------------------------------- metrics


def summary(values: list[float]) -> dict:
    v = sorted(values)
    if len(v) >= 2:
        q1, q2, q3 = statistics.quantiles(v, n=4, method="inclusive")
    else:
        q1 = q2 = q3 = v[0]
    # no run collects ten samples beyond any tail percentile, so none is
    # reported
    return {"median": q2, "q1": q1, "q3": q3, "n": len(v)}


def end_to_end(run: Run) -> dict:
    s = run.samples
    med = {k: statistics.median(v) for k, v in s.items()}
    return {
        "setup_s": (run.session_s + med["setup"], "s"),
        "job_s": (med["job"], "s"),
        "store_bytes_per_row": (run.props["store_bytes_per_row"], "B"),
    }


def per_layer(run: Run) -> dict:
    tr = run.tracer
    med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
    jobs = tr.named("op.job")
    job_tot = [tr.totals(s) for s in jobs]
    # the phase-1 spans: run_phase1 in a backfill, the whole maintenance
    # call in a cdc (run_incremental has no separate phase-1 entry point)
    p1_tot = [tr.totals(s) for s in tr.named("pipeline.phase1")
              or tr.named("pipeline.run_incremental")]
    persons = run.layer.get("persons", [])
    guard = [sum(tr.self_time(g) for g in tr.subtree(j) if g.name == "pipeline.guard")
             for j in jobs]
    lookups = [tr.totals(s) for s in tr.named("op.lookup")]
    changes = [tr.totals(s) for s in tr.named("op.changes")]
    corpus_t = {s.name: (s.seconds, tr.totals(s)) for s in tr.spans
                if s.name.startswith(("op.dedup", "op.search"))}

    def corpus_s(name):
        return corpus_t.get(name, (0.0, None))[0]

    def corpus_shuffle(prefix):
        return sum(t["shuffle_bytes"] for k, (_, t) in corpus_t.items()
                   if k.startswith(prefix))

    query = corpus_t.get("op.search_query", (0.0, {"files_read": 0}))[1]
    candidates = run.layer.get("dedup_candidates", 0)
    written = run.layer.get("written", [])
    bpr = run.props["store_bytes_per_row"]
    return {
        "session.start_s": (run.session_s, "s"),
        "session.peak_rss_mb": (peak_rss_mb(run.spark), "MiB"),
        "pipeline.phase1_s": (med([s.seconds for s in tr.named("pipeline.phase1")]), "s"),
        "pipeline.phase2_s": (med([s.seconds for s in tr.named("pipeline.phase2")]), "s"),
        "pipeline.guard_s": (med(guard), "s"),
        "pipeline.spark_jobs": (med([sum(len(x.jobs) for x in tr.subtree(j))
                                     for j in jobs]), "count"),
        "pipeline.person_scans": (med([_scans(t, "/store") for t in job_tot]), "count"),
        "pipeline.encounter_scans": (med([_scans(t, "/encounter") for t in job_tot]), "count"),
        "pipeline.useful_ratio": (med(run.layer.get("useful", [])), "ratio"),
        "retention.exchanges": (med([t["exchanges"] for t in p1_tot]), "count"),
        "retention.shuffle_bytes": (med([t["shuffle_bytes"] for t in p1_tot]), "B"),
        "retention.spill_bytes": (med([t["spill_bytes"] for t in p1_tot]), "B"),
        "retention.task_s": (med([t["task_s"] for t in p1_tot]), "s"),
        "retention.task_skew": (med([t["task_skew"] for t in p1_tot]), "ratio"),
        "retention.rows_processed": (med([t["rows_out"] / max(1, n)
                                          for t, n in zip(p1_tot, persons)]), "rows/person"),
        "retention.peak_mem_bytes": (med([t["peak_mem_bytes"] for t in p1_tot]), "B"),
        "sink.bootstrap_s": (med([s.seconds for s in tr.named("sink.bootstrap")]), "s"),
        "sink.publish_s": (med([s.seconds for s in tr.named("sink.publish")]), "s"),
        "sink.bytes_written": (med([b for b, _, _ in written]), "B"),
        "sink.files_written": (med([f for _, f, _ in written]), "count"),
        "sink.write_amp": (med([b / (max(1, n) * bpr) for b, _, n in written]), "ratio"),
        "sink.lookup_ms": (med(run.samples["lookup"]) * 1000.0, "ms"),
        "sink.scan_s": (med(run.samples["scan"]), "s"),
        "sink.changes_s": (med(run.samples["changes"]), "s"),
        "sink.compact_s": (med(run.samples.get("compact", [])), "s"),
        "sink.compact_bytes_rewritten": (med(run.layer.get("compact_bytes", [])), "B"),
        "sink.compact_buckets": (med(run.layer.get("compact_buckets", [])), "count"),
        "sink.live_files": (run.props["store_live_files"], "count"),
        "sink.delta_files": (med(run.layer.get("delta_files", [])), "count"),
        "sink.lookup_files_read": (med([t["files_read"] for t in lookups]), "count"),
        "sink.lookup_rows_examined": (med([t["scan_rows"] for t in lookups]) / LOOKUP_KEYS,
                                      "rows/key"),
        "sink.changes_files_read": (med([t["files_read"] for t in changes]), "count"),
        "dedup.build_s": (corpus_s("op.dedup_build"), "s"),
        "dedup.upsert_s": (corpus_s("op.dedup_upsert"), "s"),
        "dedup.probe_s": (corpus_s("op.dedup_probe"), "s"),
        "dedup.candidates": (candidates, "count"),
        "dedup.candidate_precision": (run.layer.get("dedup_verified", 0) / max(1, candidates),
                                      "ratio"),
        "dedup.shuffle_bytes": (corpus_shuffle("op.dedup"), "B"),
        "search.build_s": (corpus_s("op.search_build"), "s"),
        "search.append_s": (corpus_s("op.search_append"), "s"),
        "search.query_s": (corpus_s("op.search_query"), "s"),
        "search.files_read_per_query": (query["files_read"] / max(1, run.layer.get("queries", 0)),
                                        "count"),
        "search.shuffle_bytes": (corpus_shuffle("op.search"), "B"),
        "trace.job_s": (med(run.samples.get("job", [])), "s"),
        "trace.harvest_s": (tr.harvest_s, "s"),
    }


def _scans(totals: dict, marker: str) -> int:
    """FileScan nodes whose location names ``marker``."""
    return sum(1 for desc in totals["scans"] if marker in desc)
