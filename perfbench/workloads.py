"""The two benchmark workloads and their answer checks.

Both run one closed loop with one client on ``local[nproc]`` with the
engine's default settings, and drive only the public entry points of
``index.build``, ``query.bm25``, ``query.dsl`` and ``streaming.incremental``.
Both report every end-to-end metric, so each bounded metric is compared
between two commits on both workloads:

  search  cold bulk build of a long-tail corpus (``build_index``), then a
          query stream over a pinned ``IndexReader``: TAAT, WAND, DSL match
          and bool on every query. Query layers do the measured work; the
          build is one sample.
  cdc     cold base build with ``store_source`` and an ``inlined`` array,
          a query slice on it, one change batch (upserts, deletes, new docs)
          through ``add_generation``, then a reopened, pinned
          ``MultiGenReader`` and a second slice. Per-Spark-job write cost
          and liveness masks do the measured work.

Each reader first answers untimed warm-up queries: the oracle-checked ones
after the build, a few plain ones after a reopen. Their checks stay out of
the timed stream, and the JVM settles after the Spark jobs before timing
starts.

The pinned query latencies are reported normalised to host speed. On a
shared host single-thread speed moves by 20-40% between runs and between
seconds-long windows, and the cold build leaves only a few seconds of each
run for the timed stream: raw p50s of ten runs spread by 0.22-0.28 of their
median, normalised ones by far less. Before every timed query the stream
times ``cpu_probe`` (fixed Python and numpy work, about 0.45 ms, none of it
the engine's); each latency is scaled by PROBE_REF_MS over the median probe
of its window of PROBE_WINDOW timed queries, so a figure reads as the
latency on a host where the probe takes PROBE_REF_MS. The raw percentiles
and the probe median stay in the run record.

Traced runs add the calls that cost seconds each and so cannot be repeated
often enough in an untraced run to give a steady figure: distributed
queries (``bm25_topk_spark_pruned`` in search, ``bm25_topk_spark_multigen``
in cdc, answer-checked like the pinned paths), and in cdc child-row inline
events (``apply_inline_updates``) and ``merge_generations`` with their
checks.
"""

from __future__ import annotations

import json
import os
import time
import traceback
from collections import defaultdict

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from corpus_gen import describe, long_tail_corpus
from query_gen import Query, query_stream, shape_shares
from search_replica_spark.analysis import tokenize_text
from search_replica_spark.config import IndexConfig
from search_replica_spark.index.build import build_index
from search_replica_spark.index.codec import decode_doc_blocks
from search_replica_spark.oracle import OracleIndex, doc_id_of
from search_replica_spark.query.bm25 import (
    IndexReader,
    TermAtATimeScorer,
    bm25_topk_spark_pruned,
    wand_topk,
)
from search_replica_spark.query.dsl import execute_dsl
from search_replica_spark.streaming.incremental import (
    MultiGenReader,
    add_generation,
    apply_inline_updates,
    bm25_topk_spark_multigen,
    get_docs,
    merge_generations,
)

SEARCH_FILES = 1000
CDC_FILES = 600
STREAM_LEN = 600
READER_SETUPS = 3        # setup_s is the median of this many reader opens
MIN_QUERIES = 200        # >= 100 so a p90 has ten samples beyond it
DIST_QUERIES = 3         # traced search: distributed queries, spread over the stream
DIST_EVERY = MIN_QUERIES // DIST_QUERIES
ORACLE_SAMPLE = 60       # untimed warm-up queries, checked against OracleIndex
CDC_MIN_BATCHES = 1
CDC_PRE = 60             # timed stream queries before the first batch
CDC_WARMUP = 20          # untimed stream queries after each reader reopen
CDC_SLICE = 100          # timed stream queries after each batch
CDC_UPSERTS, CDC_DELETES, CDC_NEW, CDC_CHILD_EVENTS = 40, 10, 20, 40
PROBE_REF_MS = 0.45      # host speed the normalised query latencies refer to
PROBE_WINDOW = 20        # timed queries per probe median (one query_gen cycle)
_PROBE_ARRAY = np.arange(20000, dtype=np.int64)[::-1]

_STR = pa.string()
DOC_SCHEMA = pa.schema([(c, _STR) for c in ("repo", "path", "commit", "lang", "content")])
PARENT_SCHEMA = DOC_SCHEMA.append(
    pa.field("inlined", pa.list_(pa.struct([("ck", pa.int64()), ("value", _STR)]))))
BATCH_SCHEMA = PARENT_SCHEMA.append(pa.field("_change_type", _STR))
CHILD_SCHEMA = pa.schema([("repo", _STR), ("path", _STR), ("ck", pa.int64()),
                          ("value", _STR), ("_change_type", _STR)])


class Run:
    """Shared state of one benchmark run: Spark, tracer, op accounting and
    latency samples."""

    def __init__(self, spark, tracer, run_dir: str, seed: int, seconds: float, trace: bool):
        self.spark, self.tracer, self.run_dir = spark, tracer, run_dir
        self.seed, self.seconds, self.trace = seed, seconds, trace
        self.attempted = 0
        self.failures: list[str] = []
        self.lat_ms: dict[str, list[float]] = defaultdict(list)
        self.probe_ms: list[float] = []   # one per timed query, taken just before it
        self.layer: dict[str, list[float]] = defaultdict(list)
        self.record: dict = {"phases_s": {}}
        self._t0 = time.perf_counter()

    def mark(self, phase: str) -> None:
        """Record when ``phase`` ended, in seconds since the workload started."""
        self.record["phases_s"][phase] = round(time.perf_counter() - self._t0, 3)

    def op(self, name: str, fn, *args, spark_jobs: bool = True, **kw):
        """One engine call: counted, timed, spanned. Returns (result, seconds);
        an exception is counted as a failed op and returned as ``None``."""
        self.attempted += 1
        t = time.perf_counter()
        try:
            with self.tracer.span(name, spark_jobs):
                res = fn(*args, **kw)
        except Exception:  # noqa: BLE001 - every failed call is counted, never dropped
            self.failures.append(f"{name}: {traceback.format_exc(limit=3)}")
            return None, time.perf_counter() - t
        return res, time.perf_counter() - t

    def fail(self, what: str) -> None:
        """A wrong answer from an op already counted as attempted."""
        self.failures.append(what)

    def path(self, name: str) -> str:
        return os.path.join(self.run_dir, name)


# --------------------------------------------------------------------------
# answer comparison
# --------------------------------------------------------------------------

def same_answer(a, b) -> bool:
    """Doc ids equal and in order; scores equal within 1e-9 (relative above 1)."""
    if a is None or b is None or len(a) != len(b):
        return False
    return all(
        int(da) == int(db) and abs(float(sa) - float(sb)) <= 1e-9 * max(1.0, abs(float(sa)))
        for (da, sa), (db, sb) in zip(a, b)
    )


def _rows(df_rows) -> list[tuple[int, float]]:
    return [(int(r["doc_id"]), float(r["score"])) for r in df_rows]


class BoolOracle:
    """ES bool semantics over OracleIndex postings, for single-term ``match``
    clauses: must and filter gate, must_not excludes, score = sum of must +
    sum of should (summed in clause order, as the engine does)."""

    def __init__(self, oracle: OracleIndex):
        self.o = oracle
        self._maps: dict[str, dict[int, float]] = {}

    def clause(self, c: dict) -> dict[int, float]:
        term = c["match"]["content"]
        if term not in self._maps:
            self._maps[term] = dict(self.o.score(term, k=self.o.n_docs or 1))
        return self._maps[term]

    def topk(self, body: dict, k: int) -> list[tuple[int, float]]:
        b = body["bool"]
        must = [self.clause(c) for c in b["must"]]
        should = [self.clause(c) for c in b["should"]]
        cand = set(must[0])
        for m in must[1:]:
            cand &= set(m)
        for c in b["filter"]:
            cand &= set(self.clause(c))
        for c in b["must_not"]:
            cand -= set(self.clause(c))
        scores = {
            d: sum(m.get(d, 0.0) for m in must) + sum(s.get(d, 0.0) for s in should)
            for d in cand
        }
        return sorted(scores.items(), key=lambda t: (-t[1], t[0]))[:k]


# --------------------------------------------------------------------------
# shared phases
# --------------------------------------------------------------------------

def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def to_parquet(pdf: pd.DataFrame, path: str, schema: pa.Schema) -> str:
    """Rows go to the engine as a parquet file (the engine sees only the file)."""
    pq.write_table(pa.Table.from_pandas(pdf, schema=schema, preserve_index=False),
                   path, row_group_size=4096)
    return path


def write_parquet(run: Run, pdf: pd.DataFrame, name: str, schema: pa.Schema):
    return run.spark.read.parquet(to_parquet(pdf, run.path(name), schema))


def bulk_build(run: Run, corpus_df, n_files: int, desc: dict, idx: str, cfg: IndexConfig) -> dict:
    stats, secs = run.op("index.build_index", build_index, run.spark, corpus_df, idx, cfg)
    if stats is None:
        raise RuntimeError("build_index failed: " + run.failures[-1])
    want = {"n_docs": desc["files"], "n_terms": desc["terms"], "postings_emitted": desc["postings"]}
    got = {k: int(stats[k]) for k in want}
    if got != want:
        run.fail(f"build_index stats {got} != generated corpus {want}")
    run.record["build"] = {"seconds": secs, "stats": {k: stats[k] for k in (
        "n_docs", "n_terms", "postings_emitted", "n_blocks", "bytes_compressed")}}
    with open(os.path.join(idx, "manifest.json")) as f:
        run.record["build"]["manifest"] = json.load(f)
    run.layer["index_files_per_s"].append(n_files / secs)
    return stats


def open_reader(run: Run, make, first: Query | None = None):
    """Open + pin a reader (and answer ``first``): the serving set-up."""
    def _open():
        r = make()
        r.pin_driver()
        r.doc_arrays()
        if first is not None:
            TermAtATimeScorer(r).score(first.text, first.k, live=getattr(r, "_live", None))
        return r

    r, secs = run.op("query.open_reader", _open)
    if r is None:
        raise RuntimeError("reader open failed: " + run.failures[-1])
    return r, secs


def cpu_probe() -> float:
    """Milliseconds for a fixed piece of Python and numpy work: the host's
    single-thread speed right now."""
    t = time.perf_counter()
    s = 0
    for i in range(3000):
        s += i * i
    np.sort(_PROBE_ARRAY)
    return (time.perf_counter() - t) * 1e3


def run_query(run: Run, spark, idx: str, reader, q: Query, dist, oracle=None, bool_oracle=None,
              timed: bool = True):
    """One stream query through TAAT, WAND, DSL match + bool and (if
    ``dist``) the distributed entry; every answer is checked. An untimed
    (warm-up) query adds no latency or layer samples."""
    if timed:
        run.probe_ms.append(cpu_probe())
    live = getattr(reader, "_live", None)
    taat, t_taat = run.op("query.taat", TermAtATimeScorer(reader).score, q.text, q.k,
                          live=live, spark_jobs=False)
    wstats = {} if run.trace else None
    wand, t_wand = run.op("query.wand", wand_topk, reader, q.text, q.k, stats=wstats,
                          live=live, spark_jobs=False)
    dslm, t_dslm = run.op("query.dsl_match", execute_dsl, reader,
                          {"match": {"content": q.text}}, q.k, spark_jobs=False)
    dslb, t_dslb = run.op("query.dsl_bool", execute_dsl, reader, q.bool_body, q.k,
                          spark_jobs=False)
    if timed:
        run.lat_ms["tata"].append(t_taat * 1e3)
        run.lat_ms["wand"].append(t_wand * 1e3)
        run.lat_ms["dsl"].extend((t_dslm * 1e3, t_dslb * 1e3))
    if timed and run.trace:
        run.layer["dsl_match_ms"].append(t_dslm * 1e3)
        if wstats and wstats.get("blocks_total"):
            run.layer["wand_blocks_decoded"].append(wstats["blocks_decoded"])
            run.layer["wand_blocks_total"].append(wstats["blocks_total"])
        trace_fetch_decode(run, reader, q)

    ref = taat
    if oracle is not None:
        ref = oracle.score(q.text, q.k)
        if not same_answer(taat, ref):
            run.fail(f"TAAT != oracle for {q}")
        exp_bool = bool_oracle.topk(q.bool_body, q.k)
        if not same_answer(dslb, exp_bool):
            run.fail(f"DSL bool != oracle for {q}")
    for name, ans in (("WAND", wand), ("DSL match", dslm)):
        if not same_answer(ans, ref):
            run.fail(f"{name} != reference for {q}")
    if dist is not None:
        rows, t_dist = run.op("query.dist", lambda: dist(spark, idx, q.text, q.k).collect())
        if timed:
            run.lat_ms["dist"].append(t_dist * 1e3)
        if rows is not None and not same_answer(_rows(rows), ref):
            run.fail(f"distributed != reference for {q}")


def trace_fetch_decode(run: Run, reader, q: Query) -> None:
    """Per-layer split of the pinned read path: postings fetch (lookup +
    decode), and block decode alone on the fetched blocks."""
    terms = sorted(set(tokenize_text(q.text)))
    if not terms:
        return
    t = time.perf_counter()
    post = reader.fetch_postings(terms)
    run.layer["fetch_postings_ms"].append((time.perf_counter() - t) * 1e3)
    run.layer["terms_per_query"].append(len(terms))
    run.layer["postings_per_query"].append(sum(len(p[0]) for p in post.values()))
    blk = reader.fetch_blocks(terms)
    if len(blk):
        t = time.perf_counter()
        for _term, g in blk.groupby("term", sort=True):
            offs = g["doc_off"].to_numpy(np.int64) if "doc_off" in g else None
            decode_doc_blocks(list(g["docs_bin"]), g["n"].to_numpy(np.int64), offs)
        run.layer["decode_blocks_ms"].append((time.perf_counter() - t) * 1e3)


def query_slice(run: Run, idx: str, reader, queries: list[Query], start: int, n: int,
                warmup: int = 0, dist=None) -> int:
    """``warmup`` untimed then ``n`` timed stream queries from ``start``,
    the first timed one also through ``dist``; returns the next position."""
    for j in range(warmup + n):
        run_query(run, run.spark, idx, reader, queries[(start + j) % len(queries)],
                  dist if j == warmup else None, timed=j >= warmup)
    return start + warmup + n


def oracle_warmup(run: Run, idx: str, reader, queries: list[Query], oracle: OracleIndex) -> int:
    """The first ORACLE_SAMPLE stream queries, checked against the oracle
    and untimed: they warm the reader while the JVM settles after the build,
    and their checks stay out of the timed stream."""
    bool_oracle = BoolOracle(oracle)
    for q in queries[:ORACLE_SAMPLE]:
        run_query(run, run.spark, idx, reader, q, None, oracle, bool_oracle, timed=False)
    return ORACLE_SAMPLE


def reader_setups(run: Run, make):
    """setup_s: open and pin the serving reader READER_SETUPS times; returns
    the last reader."""
    for _ in range(READER_SETUPS):
        r, secs = open_reader(run, make)
        run.layer["setup_s"].append(secs)
    return r


# --------------------------------------------------------------------------
# search
# --------------------------------------------------------------------------

def prepare_search(seed: int, run_dir: str) -> dict:
    """The search workload's corpus file, descriptors, oracle and query
    stream (no Spark)."""
    df = long_tail_corpus(SEARCH_FILES, seed)
    desc, dfs = describe(df)
    return {"corpus": to_parquet(df, os.path.join(run_dir, "corpus.parquet"), DOC_SCHEMA),
            "desc": desc, "oracle": OracleIndex.build(df),
            "queries": query_stream(dfs, SEARCH_FILES, STREAM_LEN, seed)}


def search(run: Run, inp: dict) -> None:
    spark = run.spark
    desc, queries = inp["desc"], inp["queries"]
    corpus = spark.read.parquet(inp["corpus"])
    idx = run.path("index")

    t0 = time.perf_counter()
    bulk_build(run, corpus, SEARCH_FILES, desc, idx, IndexConfig())
    reader, _ = open_reader(run, lambda: IndexReader(spark, idx), queries[0])
    run.layer["visible_s"].append(time.perf_counter() - t0)
    run.layer["index_bytes"].append(dir_bytes(idx))
    run.layer["input_bytes"].append(desc["content_bytes"])
    run.layer["generations"].append(1)
    run.mark("build")
    reader_setups(run, lambda: IndexReader(spark, idx))
    run.mark("setups")

    first = oracle_warmup(run, idx, reader, queries, inp["oracle"])
    run.mark("oracle_warmup")
    deadline = time.perf_counter() + run.seconds
    i = 0
    with run.tracer.span("query.stream"):
        while time.perf_counter() < deadline or i < MIN_QUERIES:
            q = queries[(first + i) % len(queries)]
            dist = (bm25_topk_spark_pruned if run.trace and i % DIST_EVERY == 0
                    and i // DIST_EVERY < DIST_QUERIES else None)
            run_query(run, spark, idx, reader, q, dist)
            i += 1
    run.mark("stream")
    if run.trace:
        # block-max pruning counters cost extra count jobs: separate calls,
        # outside the timed and job-counted distributed queries
        for q in queries[first:first + DIST_QUERIES * DIST_EVERY:DIST_EVERY]:
            ps: dict = {}
            run.op("query.dist_prune_stats", lambda: bm25_topk_spark_pruned(
                spark, idx, q.text, q.k, prune_stats=ps).collect())
            if ps.get("blocks_total"):
                run.layer["dist_blocks_decoded"].append(ps["blocks_decoded"])
                run.layer["dist_blocks_total"].append(ps["blocks_total"])
    run.record["workload"] = {**desc, "queries_run": first + i, "queries_timed": i,
                              "shape_shares": shape_shares(queries[first:first + i])}


# --------------------------------------------------------------------------
# cdc
# --------------------------------------------------------------------------

class CdcModel:
    """The benchmark's own view of the live documents and inline arrays,
    which the engine's answers are checked against."""

    def __init__(self, base: pd.DataFrame):
        self.rows = {doc_id_of(r, p): row for r, p, row in zip(
            base["repo"], base["path"], base.to_dict("records"))}
        self.tags = {d: f"doc{i}" for i, d in enumerate(self.rows)}

    def live_frame(self) -> pd.DataFrame:
        return pd.DataFrame(list(self.rows.values()))

    def inlined(self, d: int) -> list[tuple[int, str]]:
        return sorted((e["ck"], e["value"]) for e in (self.rows[d]["inlined"] or []))


def base_inlined(n: int, rng) -> list[list[dict]]:
    """Initial child arrays: a fifth of the parents hold 1-3 elements."""
    out = []
    for i in range(n):
        m = int(rng.integers(1, 4)) if rng.random() < 0.2 else 0
        out.append([{"ck": i * 10 + j, "value": f"base{j}"} for j in range(m)])
    return out


def cdc_batch(run: Run, model: CdcModel, rng, b: int):
    """One seeded change batch of parent rows: upserts (content gains the
    batch's marker term), deletes and new docs. Returns (rows, expectations)
    and applies the batch to the model."""
    base_ids = [d for d in model.rows if d in model.tags]
    pick = rng.choice(len(base_ids), CDC_UPSERTS + CDC_DELETES, replace=False)
    ups = [base_ids[j] for j in pick[:CDC_UPSERTS]]
    dels = [base_ids[j] for j in pick[CDC_UPSERTS:]]
    marker = f"cdcmark{b}z"
    rows = []
    for d in ups:
        row = dict(model.rows[d])
        row["content"] = row["content"] + f"\n// {marker} rev{b}"
        row["_change_type"] = "upsert"
        rows.append(row)
    new = long_tail_corpus(CDC_NEW, run.seed * 1000 + b + 1, doc_tag=f"new{b}d")
    new["path"] = f"new{b}/" + new["path"]
    new["content"] = new["content"] + f"\n// {marker}"
    new["inlined"] = [[] for _ in range(CDC_NEW)]
    new["_change_type"] = "insert"
    rows += new.to_dict("records")
    for d in dels:
        r = model.rows[d]
        rows.append({"repo": r["repo"], "path": r["path"], "commit": None, "lang": None,
                     "content": None, "inlined": None, "_change_type": "delete"})
    for row in rows:
        d = doc_id_of(row["repo"], row["path"])
        if row["_change_type"] == "delete":
            del model.rows[d]
        else:
            model.rows[d] = {k: v for k, v in row.items() if k != "_change_type"}
    found = sorted(doc_id_of(r["repo"], r["path"]) for r in rows if r["_change_type"] != "delete")
    return pd.DataFrame(rows), {"marker": marker, "found": found, "deleted": dels}


def child_events(model: CdcModel, rng, n: int):
    """Child-row CDC events on live parents: add an element, replace one or
    delete one. Returns (events, touched parent ids) and applies them to the
    model."""
    live = list(model.rows)
    events, seen = [], set()
    for e in range(n):
        d = live[int(rng.integers(len(live)))]
        row = model.rows[d]
        arr = {x["ck"]: x["value"] for x in (row["inlined"] or [])}
        r = rng.random()
        if arr and r < 0.5:
            ck = sorted(arr)[int(rng.integers(len(arr)))]
            value = None if r < 0.25 else f"upd{e}"
        else:
            ck, value = 1_000_000 + e, f"kid{e}"
        if (d, ck) in seen:  # one event per element and batch
            continue
        seen.add((d, ck))
        events.append((row["repo"], row["path"], ck, value, "delete" if value is None else "upsert"))
        if value is None:
            arr.pop(ck)
        else:
            arr[ck] = value
        row["inlined"] = [{"ck": k, "value": v} for k, v in sorted(arr.items())]
    children = pd.DataFrame(events, columns=["repo", "path", "ck", "value", "_change_type"])
    return children, sorted({d for d, _ in seen})


def check_batch(run: Run, reader, model: CdcModel, exp: dict) -> None:
    """Upserted and new docs are found by their marker; deleted docs are not
    found by their unique tag."""
    found, _ = run.op("query.taat", reader.score, exp["marker"], len(exp["found"]) + 5,
                      spark_jobs=False)
    if sorted(d for d, _ in found or []) != exp["found"]:
        run.fail(f"marker {exp['marker']}: found {len(found or [])} docs, want {len(exp['found'])}")
    for d in exp["deleted"]:
        hits, _ = run.op("query.taat", reader.score, model.tags[d], 10, spark_jobs=False)
        if hits is None or hits:
            run.fail(f"deleted doc {d} still matches its tag {model.tags[d]}")


def check_inline(run: Run, idx: str, model: CdcModel, ids: list[int]) -> None:
    rows, _ = run.op("cdc.get_docs", lambda: get_docs(run.spark, idx, ids)
                     .select("doc_id", "inlined").collect())
    got = {int(r["doc_id"]): sorted((e["ck"], e["value"]) for e in (r["inlined"] or []))
           for r in rows or []}
    bad = [d for d in ids if got.get(d) != model.inlined(d)]
    if bad:
        run.fail(f"inline arrays differ on {len(bad)} of {len(ids)} parents")


def prepare_cdc(seed: int, run_dir: str) -> dict:
    """The cdc workload's base file, model and seeded change source (no Spark)."""
    rng = np.random.default_rng([seed, 0xCDC])
    base = long_tail_corpus(CDC_FILES, seed)
    base["inlined"] = base_inlined(CDC_FILES, rng)
    desc, dfs = describe(base)
    return {"base": to_parquet(base, os.path.join(run_dir, "base.parquet"), PARENT_SCHEMA),
            "desc": desc, "model": CdcModel(base), "rng": rng,
            "oracle": OracleIndex.build(base),
            "queries": query_stream(dfs, CDC_FILES, STREAM_LEN, seed)}


def cdc(run: Run, inp: dict) -> None:
    spark = run.spark
    desc, queries = inp["desc"], inp["queries"]
    model, rng = inp["model"], inp["rng"]
    cfg = IndexConfig(store_source=True, input_columns=(
        "repo", "path", "commit", "lang", "content", "inlined"))
    idx = run.path("index")
    bulk_build(run, spark.read.parquet(inp["base"]), CDC_FILES, desc, idx, cfg)
    run.mark("build")
    reader = reader_setups(run, lambda: IndexReader(spark, idx))
    run.mark("setups")
    input_bytes = desc["content_bytes"]
    # one timed slice before the first batch (single generation) and one
    # after each batch (generational, liveness masks): the percentiles pool
    # both, so they sample CPU speed at two points about 20 s apart
    qi = oracle_warmup(run, idx, reader, queries, inp["oracle"])
    run.mark("oracle_warmup")
    qi = query_slice(run, idx, reader, queries, qi, CDC_PRE)
    run.mark("stream_before_batch")

    t_start = time.perf_counter()
    b, batches = 0, []
    while b < CDC_MIN_BATCHES or time.perf_counter() - t_start < run.seconds:
        parents, exp = cdc_batch(run, model, rng, b)
        input_bytes += int(parents["content"].dropna().str.encode("utf-8").str.len().sum())
        batch = write_parquet(run, parents, f"batch{b}.parquet", BATCH_SCHEMA)
        t0 = time.perf_counter()
        _, t_add = run.op("cdc.add_generation", add_generation, spark, batch, idx, cfg)
        reader, t_open = open_reader(run, lambda: MultiGenReader(spark, idx), queries[qi])
        visible = time.perf_counter() - t0
        run.mark(f"batch{b}_visible")
        batches.append({"add_s": t_add, "open_s": t_open, "visible_s": visible})
        run.layer["visible_s"].append(visible)
        check_batch(run, reader, model, exp)
        qi = query_slice(run, idx, reader, queries, qi, CDC_SLICE, CDC_WARMUP,
                         bm25_topk_spark_multigen if run.trace else None)
        run.mark(f"stream_after_batch{b}")
        b += 1
    run.layer["index_bytes"].append(dir_bytes(idx))
    run.layer["input_bytes"].append(input_bytes)
    run.layer["generations"].append(len(reader.gens))
    run.record["cdc"] = {"batches": batches,
                         "dead_frac": 1.0 - len(reader) / len(reader.doc_arrays()[0])}
    run.record["workload"] = {**desc, "batches": b, "queries_run": qi,
                              "queries_timed": len(run.lat_ms["tata"]),
                              "shape_shares": shape_shares(queries[:qi])}
    if run.trace:
        inline_and_merge(run, model, rng, queries, idx, cfg)


def inline_and_merge(run: Run, model: CdcModel, rng, queries: list[Query], idx: str,
                     cfg: IndexConfig) -> None:
    """Child-row inline events through apply_inline_updates, then
    merge_generations. Traced runs only, after every end-to-end phase: the
    two calls cost as much as the rest of the workload, which the run budget
    cannot hold in every run. Checks: inline arrays via get_docs before and
    after the merge, and the merged index answers exactly like an
    OracleIndex over the live rows (a merge recomputes N, avgdl and df over
    live docs)."""
    children, touched = child_events(model, rng, CDC_CHILD_EVENTS)
    cdf = write_parquet(run, children, "children.parquet", CHILD_SCHEMA)
    _, t_inl = run.op("cdc.apply_inline_updates", apply_inline_updates, run.spark, cdf, idx, cfg)
    check_inline(run, idx, model, touched)
    _, t_merge = run.op("cdc.merge_generations", merge_generations, run.spark, idx, cfg)
    merged, _ = open_reader(run, lambda: MultiGenReader(run.spark, idx))
    check_inline(run, idx, model, touched)
    live_df = model.live_frame()
    oracle = OracleIndex.build(live_df)
    for q in queries[:ORACLE_SAMPLE]:
        got, _ = run.op("query.taat", merged.score, q.text, q.k, spark_jobs=False)
        if not same_answer(got, oracle.score(q.text, q.k)):
            run.fail(f"merged index != oracle over live rows for {q}")
    if len(merged) != len(live_df):
        run.fail(f"merged index holds {len(merged)} live docs, want {len(live_df)}")
    run.record["cdc"].update(inline_s=t_inl, merge_s=t_merge)


# name -> (prepare inputs from the seed, run the workload on them)
WORKLOADS = {"search": (prepare_search, search), "cdc": (prepare_cdc, cdc)}


# --------------------------------------------------------------------------
# metrics
# --------------------------------------------------------------------------

def pct(xs: list[float], p: float) -> dict:
    """Percentile with its sample count; ``valid`` when at least ten samples
    lie beyond it."""
    n = len(xs)
    v = float(np.percentile(xs, p)) if n else float("nan")
    return {"value": v, "n": n, "valid": n * (1 - p / 100) >= 10}


def speed_factors(run: Run) -> np.ndarray:
    """Per timed query: PROBE_REF_MS over the median probe of its window."""
    window = np.arange(len(run.probe_ms)) // PROBE_WINDOW
    med = pd.Series(run.probe_ms).groupby(window).transform("median").to_numpy()
    return PROBE_REF_MS / med


def end_to_end(run: Run) -> tuple[dict, dict]:
    """(metrics, percentile detail) from an untraced (or traced) run."""
    L, lat = run.layer, run.lat_ms
    f = speed_factors(run)
    norm = {"tata": np.asarray(lat["tata"]) * f, "wand": np.asarray(lat["wand"]) * f,
            "dsl": np.asarray(lat["dsl"]) * np.repeat(f, 2)}
    detail = {
        "probe_ms": pct(run.probe_ms, 50),
        "write_visible_p50": pct(L["visible_s"], 50),
        "setup": pct(L["setup_s"], 50),
    }
    for op in ("tata", "wand", "dsl"):
        for p in (50, 90):
            detail[f"{op}_p{p}_raw"] = pct(lat[op], p)
            detail[f"{op}_p{p}"] = pct(norm[op], p)
    m = {
        "setup_s": (detail["setup"]["value"], "s"),
        "index_files_per_s": (float(np.median(L["index_files_per_s"])), "files/s"),
        "index_bytes_per_input_byte": (L["index_bytes"][-1] / L["input_bytes"][-1], "ratio"),
        "write_visible_p50_s": (detail["write_visible_p50"]["value"], "s"),
    }
    for k in ("tata_p50", "tata_p90", "wand_p50", "wand_p90", "dsl_p50", "dsl_p90"):
        m[f"query_{k}_norm_ms"] = (detail[k]["value"], "ms")
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}, detail


def per_layer(run: Run) -> dict:
    """Per-layer metrics from the traced run's spans and counters. Build
    stages are the intervals in the index's own manifest.json; a Spark stage
    belongs to the build stage whose interval holds its submission time."""
    tr, L = run.tracer, run.layer
    st = run.record["build"]["manifest"]["stages"]
    build_span = tr.named("index.build_index")[0]
    m = {}
    for stage in ("docmap", "segments", "finalize"):
        m[f"build.{stage}_s"] = (st[stage]["finished_at"] - st[stage]["started_at"], "s")
    for stage in ("docmap", "segments"):
        tot = tr.totals(build_span, (st[stage]["started_at"], st[stage]["finished_at"]))
        m[f"build.{stage}.shuffle_write_bytes"] = (tot["shuffle_write_bytes"], "bytes")
        m[f"build.{stage}.spill_bytes"] = (tot["spill_bytes"], "bytes")
        m[f"build.{stage}.executor_run_s"] = (tot["executor_run_ms"] / 1e3, "s")
    tot = tr.totals(build_span)
    m["build.spark_jobs"] = (tot["jobs"], "count")
    m["build.spark_tasks"] = (tot["tasks"], "count")
    bs = run.record["build"]["stats"]
    m["build.blocks"] = (bs["n_blocks"], "count")
    m["build.bytes_per_posting"] = (bs["bytes_compressed"] / bs["postings_emitted"], "bytes")

    m["query.fetch_postings_p50_ms"] = (float(np.median(L["fetch_postings_ms"])), "ms")
    m["query.decode_blocks_p50_ms"] = (float(np.median(L["decode_blocks_ms"])), "ms")
    m["query.wand.blocks_decoded_frac"] = (
        sum(L["wand_blocks_decoded"]) / max(1, sum(L["wand_blocks_total"])), "frac")
    m["query.dist_p50_ms"] = (float(np.median(run.lat_ms["dist"])), "ms")
    dist = tr.named("query.dist")
    dt = [tr.totals(s) for s in dist]
    m["query.dist.spark_jobs_per_query"] = (float(np.mean([t["jobs"] for t in dt])), "count")
    m["query.dist.spark_tasks_per_query"] = (float(np.mean([t["tasks"] for t in dt])), "count")
    m["query.dist.executor_run_ms_per_query"] = (
        float(np.mean([t["executor_run_ms"] for t in dt])), "ms")
    m["query.dsl_over_tata_ratio"] = (
        float(np.median(L["dsl_match_ms"]) / np.median(run.lat_ms["tata"])), "ratio")
    opens = [s["end"] - s["start"] for s in tr.named("query.open_reader")]
    m["serve.reader_open_p50_s"] = (float(np.median(opens)), "s")
    m["index.generations"] = (L["generations"][-1], "count")
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def layer_detail(run: Run) -> dict:
    """Traced-run detail kept in the run record, not reported as per-layer
    metrics: query-mix descriptors, and layers only one workload has."""
    tr, L = run.tracer, run.layer
    out = {
        "query.terms_per_query": float(np.mean(L["terms_per_query"])),
        "query.postings_per_query": float(np.mean(L["postings_per_query"])),
    }
    if L["dist_blocks_total"]:
        out["query.dist.blocks_decoded_frac"] = (
            sum(L["dist_blocks_decoded"]) / sum(L["dist_blocks_total"]))
    for name in ("cdc.add_generation", "cdc.apply_inline_updates", "cdc.merge_generations"):
        spans = tr.named(name)
        if spans:
            tot = [tr.totals(s) for s in spans]
            out[f"{name}_p50_s"] = float(np.median([s["end"] - s["start"] for s in spans]))
            out[f"{name}.spark_jobs_per_call"] = float(np.mean([t["jobs"] for t in tot]))
            out[f"{name}.shuffle_write_bytes_per_call"] = float(
                np.mean([t["shuffle_write_bytes"] for t in tot]))
    return out
