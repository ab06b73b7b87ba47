"""The benchmark workloads. Each one generates its inputs from the seed,
warms up once (counted in set-up time), then runs one timed operation
repeatedly and checks every output without the engine: against the
generator's bookkeeping or against DuckDB over the same files.

Operation per workload:

- ``estate_queries``: one search session (one query of each type
  through the program's search surface, each result collected); one
  client, closed loop, over the layers one set-up ``run_pipeline`` wrote.
- ``corpus_ingest``: one ``incremental_ingest(near_dup=True)`` batch
  into a copy of a persisted one-batch history, then ``maintain_lake``.

A traced run also measures, once, the two programs that are too slow
to time here: the reference DAG (``run_pipeline``, on estate_queries)
and the corpus build (``run_corpus_pipeline``, on corpus_ingest).
"""

from __future__ import annotations

import contextlib
import math
import os
import random
import shutil
import statistics
import time

import gen
from gen import tree_stats
from metrics import BUILD_LAYERS, PIPELINE_LAYERS, QUERY_TYPES
from tracing import Tracer

LAKE_LAYERS = ("formatted", "usage", "index")


def _duck():
    import duckdb  # the checker's engine: loaded (and timed) with the checks

    con = duckdb.connect()
    con.execute("SET threads TO 1")
    return con


class Workload:
    """One benchmark workload. ``step`` runs the timed operation and
    returns (items, problems): items processed, and the output-check
    failures of that operation (empty when correct)."""

    name = ""
    op_name = ""
    item = ""
    # child spans of an operation reported on their own: name prefix, label
    child = ""
    child_label = ""
    # operations a traced phase runs, fixed so its counts repeat exactly
    TRACED_OPS = 0

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self.spark = None
        self.input_bytes = 0
        self.layer: dict[str, float] = {}
        # seconds spent in output checks and other benchmark-side work;
        # set-up time leaves them out
        self.check_s = 0.0

    @contextlib.contextmanager
    def checking(self):
        t = time.perf_counter()
        try:
            yield
        finally:
            self.check_s += time.perf_counter() - t

    def generate(self) -> None:
        raise NotImplementedError

    def warm_up(self, tracer: Tracer) -> None:
        raise NotImplementedError

    def step(self, tracer: Tracer, i: int) -> tuple[int, list[str]]:
        raise NotImplementedError

    def finish(self, tracer: Tracer) -> list[str]:
        """Output checks after the timed loop (not timed); one problem
        per failed operation."""
        raise NotImplementedError

    def lake_bytes(self) -> int:
        raise NotImplementedError

    def rebind(self, tracer: Tracer) -> None:
        """Prepare and warm a restarted session (the traced phase)."""
        raise NotImplementedError

    def trace_extra(self, tracer: Tracer) -> list[str]:
        """Calls measured only in the traced phase; returns problems."""
        raise NotImplementedError


# --- estate_queries --------------------------------------------------

_DEPTS = ("75", "01", "05", "13", "33", "69")


def make_queries(seed: int, n: int, dvf_rows: int) -> list[tuple[str, dict]]:
    """A seeded closed-loop sequence: blocks of one query of each type
    in shuffled order, parameters drawn per query."""
    rnd = random.Random(seed * 31 + 17)
    out: list[tuple[str, dict]] = []
    while len(out) < n:
        block = list(QUERY_TYPES)
        rnd.shuffle(block)
        for t in block:
            lo = rnd.choice([0, 50_000, 100_000, 250_000])
            p = {
                "word": rnd.choice(gen._WORDS),
                "seg": rnd.choice(["pro", "private"]),
                "lo": lo, "hi": lo + rnd.choice([300_000, 600_000, 1_200_000]),
                "asc": rnd.random() < 0.5,
                "page": rnd.randint(1, 3),
                "mid": f"2025-{rnd.randrange(dvf_rows):07d}",
                "lat": 48.8566 + rnd.uniform(-0.05, 0.05),
                "lng": 2.3522 + rnd.uniform(-0.05, 0.05),
                "km": rnd.choice([1.0, 2.5, 5.0, 10.0]),
                "dept": rnd.choice(_DEPTS),
                "deep_page": rnd.choice([1, 5, 20, 40]),
                "k": rnd.randint(1, 5),
                "commune": f"751{rnd.randint(1, 20):02d}",
            }
            out.append((t, p))
    return out[:n]


def _search_url(p: dict) -> str:
    order = "asc" if p["asc"] else "desc"
    return (f"https://www.leboncoin.fr/recherche?text={p['word']}&seg={p['seg']}"
            f"&price={p['lo']}-{p['hi']}&sort_by=time&sort_order={order}&page={p['page']}")


def spark_query(t: str, p: dict, L: dict) -> list[tuple]:
    """Run one query through the program's public search surface and
    return the collected rows, projected for comparison."""
    from pyspark.sql import functions as F

    from projet_big_data_boutin_danre_spark.functions.geo import within_radius_km
    from projet_big_data_boutin_danre_spark.operators import pagination, usage
    from projet_big_data_boutin_danre_spark.plans import search

    opp, dvf, stats = L["opp"], L["dvf"], L["stats"]
    if t == "search_spec":
        spec = search.SearchSpec(
            text=p["word"], ranges={"price": (float(p["lo"]), float(p["hi"]))},
            owner_type=p["seg"], owner_col="seg", sort_by="price",
            sort_asc=p["asc"], page=p["page"])
        rows = search.compile_search(opp, spec).collect()
        return [(r["id"], r["price"]) for r in rows]
    if t == "search_url":
        rows = search.compile_search(opp, search.parse_search_url(_search_url(p))).collect()
        return [(r["id"], r["price"]) for r in rows]
    if t == "point_lookup":
        rows = usage.point_lookup(dvf, "id_mutation", p["mid"]).collect()
        return [(r["id_mutation"], r["valeur_fonciere"], r["code_commune"]) for r in rows]
    if t == "facet_totals":
        pred = search.compile_predicate(search.SearchSpec(text=p["word"]))
        rows = usage.facet_totals(opp.filter(pred), "seg").collect()
        return sorted(((r["seg"], r["total"], r["max_pages"]) for r in rows), key=repr)
    if t == "within_radius":
        pred = within_radius_km(F.col("latitude"), F.col("longitude"),
                                p["lat"], p["lng"], p["km"])
        rows = dvf.filter(pred).select("id_mutation").orderBy("id_mutation").limit(100).collect()
        return [(r["id_mutation"],) for r in rows]
    if t == "sort_page":
        df = dvf.filter(F.col("code_commune").startswith(p["dept"]))
        order = [F.col("valeur_fonciere").desc(), F.col("id_mutation").asc()]
        rows = pagination.sort_page(df, order, limit=35, page=p["deep_page"]).collect()
        return [(r["id_mutation"], r["valeur_fonciere"]) for r in rows]
    if t == "top_k_per_group":
        df = dvf.filter(F.col("code_commune").startswith(p["dept"]))
        order = [F.col("valeur_fonciere").desc(), F.col("id_mutation").asc()]
        rows = pagination.top_k_per_group(df, ["code_commune"], order, p["k"]).collect()
        return sorted((r["code_commune"], r["id_mutation"], r["rnk"]) for r in rows)
    if t == "market_stats":
        rows = usage.point_lookup(stats, "code_commune", p["commune"]).collect()
        return [(r["code_commune"], r["avg_price_m2_commune"], r["nb_ventes"]) for r in rows]
    raise ValueError(t)


def duck_query(con, t: str, p: dict) -> list[tuple]:
    """The same query in DuckDB over the same parquet layers."""
    off = 35 * (p["page"] - 1)
    if t == "search_spec":
        order = "price ASC NULLS FIRST" if p["asc"] else "price DESC NULLS LAST"
        sql = (f"SELECT id, price FROM opp WHERE contains(coalesce(title, ''), ?) "
               f"AND price BETWEEN ? AND ? AND seg = ? ORDER BY {order}, id "
               f"LIMIT 35 OFFSET {off}")
        return con.execute(sql, [p["word"], float(p["lo"]), float(p["hi"]), p["seg"]]).fetchall()
    if t == "search_url":
        order = "date ASC NULLS FIRST" if p["asc"] else "date DESC NULLS LAST"
        sql = (f"SELECT id, price FROM opp WHERE contains(coalesce(title, ''), ?) "
               f"AND seg IN (?) AND price BETWEEN ? AND ? ORDER BY {order}, id "
               f"LIMIT 35 OFFSET {off}")
        return con.execute(sql, [p["word"], p["seg"], float(p["lo"]), float(p["hi"])]).fetchall()
    if t == "point_lookup":
        return con.execute("SELECT id_mutation, valeur_fonciere, code_commune FROM dvf "
                           "WHERE id_mutation = ?", [p["mid"]]).fetchall()
    if t == "facet_totals":
        rows = con.execute(
            "SELECT seg, count(*), CAST(ceil(count(*) / 35.0) AS BIGINT) FROM opp "
            "WHERE contains(coalesce(title, ''), ?) GROUP BY seg", [p["word"]]).fetchall()
        return sorted(rows, key=repr)
    if t == "within_radius":
        dlat = p["km"] / 111.32
        dlng = p["km"] / (111.32 * max(math.cos(math.radians(p["lat"])), 1e-6))
        sql = ("SELECT id_mutation FROM dvf WHERE latitude BETWEEN $lat - $dlat AND $lat + $dlat "
               "AND longitude BETWEEN $lng - $dlng AND $lng + $dlng AND "
               "2 * 6371.0 * asin(sqrt(pow(sin(radians($lat - latitude) / 2), 2) + "
               "cos(radians(latitude)) * cos(radians($lat)) * "
               "pow(sin(radians($lng - longitude) / 2), 2))) <= $km "
               "ORDER BY id_mutation LIMIT 100")
        return con.execute(sql, {"lat": p["lat"], "lng": p["lng"], "dlat": dlat,
                                 "dlng": dlng, "km": p["km"]}).fetchall()
    if t == "sort_page":
        off = 35 * (p["deep_page"] - 1)
        return con.execute(
            "SELECT id_mutation, valeur_fonciere FROM dvf WHERE starts_with(code_commune, ?) "
            f"ORDER BY valeur_fonciere DESC NULLS LAST, id_mutation LIMIT 35 OFFSET {off}",
            [p["dept"]]).fetchall()
    if t == "top_k_per_group":
        rows = con.execute(
            "SELECT code_commune, id_mutation, rnk FROM (SELECT code_commune, id_mutation, "
            "row_number() OVER (PARTITION BY code_commune ORDER BY valeur_fonciere DESC "
            "NULLS LAST, id_mutation) AS rnk FROM dvf WHERE starts_with(code_commune, ?)) "
            "WHERE rnk <= ?", [p["dept"], p["k"]]).fetchall()
        return sorted(rows)
    if t == "market_stats":
        return con.execute("SELECT code_commune, avg_price_m2_commune, nb_ventes FROM stats "
                           "WHERE code_commune = ?", [p["commune"]]).fetchall()
    raise ValueError(t)


class EstateQueries(Workload):
    """The timed operation is one search session: one query of each
    type, in seeded order. Sessions keep the type mix of every sample
    the same, so the median does not move with the mix; per-query
    latencies are kept as the session's child spans."""

    name = "estate_queries"
    op_name = "q.session"
    item = "queries"
    child, child_label = "q.", "query"
    DVF_ROWS, LBC_FILES, ADS_PER_FILE = 20_000, 6, 500
    MAX_SESSIONS = 500
    WARM_UP_SESSIONS = 5
    TRACED_OPS = 5

    def generate(self) -> None:
        self.lake = gen.make_estate_lake(
            os.path.join(self.work, "raw_lake"), self.seed,
            self.DVF_ROWS, self.LBC_FILES, self.ADS_PER_FILE,
        )
        self.input_bytes = self.lake.input_bytes
        self._n_root = 0
        self.queries = make_queries(self.seed, self.MAX_SESSIONS * len(QUERY_TYPES),
                                    self.DVF_ROWS)
        self.results: list[tuple[int, list[tuple]]] = []
        self.returned: dict[int, int] = {}

    def _run_pipeline(self, tracer: Tracer) -> tuple[str, list[str]]:
        """One ``run_pipeline(force=True)`` into a fresh lake; returns
        the lake root and the per-index count mismatches against the
        generator's bookkeeping and the JSON files on disk."""
        from projet_big_data_boutin_danre_spark import pipeline

        self._n_root += 1
        root = os.path.join(self.work, f"lake{self._n_root}")
        os.makedirs(root)
        os.symlink(os.path.join(self.lake.root, "raw"), os.path.join(root, "raw"))
        counts, _ = tracer.call("pipeline.run_pipeline", 0, pipeline.run_pipeline,
                                self.spark, root, run_day=gen.RUN_DAY, force=True)
        bad = [f"{k}: {counts.get(k)} != {v}"
               for k, v in self.lake.expected.items() if counts.get(k) != v]
        with self.checking():
            con = _duck()
            for idx, n in self.lake.expected.items():
                got = con.execute("SELECT count(*) FROM read_json_auto(?)",
                                  [f"{root}/index/{idx}/{gen.RUN_DAY}/*.json"]).fetchone()[0]
                if got != n:
                    bad.append(f"on-disk {idx}: {got} != {n}")
            con.close()
        return root, bad

    def warm_up(self, tracer: Tracer) -> None:
        self.root, bad = self._run_pipeline(tracer)
        if bad:
            raise RuntimeError(f"set-up run_pipeline check failed: {bad}")
        self.rebind(tracer)

    def rebind(self, tracer: Tracer) -> None:
        from projet_big_data_boutin_danre_spark import pipeline

        lay = pipeline.DatalakeLayout(self.root, gen.RUN_DAY)
        self.paths = {"opp": lay.usage_opportunities, "dvf": lay.fmt_dvf,
                      "stats": lay.usage_market}
        self.L = {k: self.spark.read.parquet(v) for k, v in self.paths.items()}
        # sessions from outside the measured sequence
        n = self.WARM_UP_SESSIONS * len(QUERY_TYPES)
        for t, p in make_queries(self.seed + 1, n, self.DVF_ROWS):
            spark_query(t, p, self.L)

    def _session(self, tracer: Tracer, i: int) -> None:
        # a run that gets past the sequence's end replays it
        n = len(QUERY_TYPES)
        i %= self.MAX_SESSIONS
        for j in range(i * n, (i + 1) * n):
            t, p = self.queries[j]
            rows, _ = tracer.call(f"q.{t}", j, spark_query, t, p, self.L)
            self.results.append((j, rows))
            self.returned[j] = len(rows)

    def step(self, tracer: Tracer, i: int) -> tuple[int, list[str]]:
        tracer.call(self.op_name, i, self._session, tracer, i)
        return len(QUERY_TYPES), []

    def finish(self, tracer: Tracer) -> list[str]:
        con = _duck()
        for name, path in self.paths.items():
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}/*.parquet')")
        bad: dict[int, list[str]] = {}  # failed session -> its differing queries
        for j, rows in self.results:
            t, p = self.queries[j]
            want = duck_query(con, t, p)
            if rows != want:
                bad.setdefault(j // len(QUERY_TYPES), []).append(
                    f"query {j} {t}: {len(rows)} rows differ from DuckDB's {len(want)}")
        con.close()
        self.results.clear()
        return [f"session {i}: " + "; ".join(qs) for i, qs in sorted(bad.items())]

    def lake_bytes(self) -> int:
        return sum(tree_stats(os.path.join(self.root, layer))[0] for layer in LAKE_LAYERS)

    def trace_extra(self, tracer: Tracer) -> list[str]:
        """The reference DAG once more, with one span per stage, for
        the pipeline/sources/cleaning layers (estate_dag is not a timed
        workload: see BENCHMARK.json)."""
        from projet_big_data_boutin_danre_spark import pipeline

        saved = {s: getattr(pipeline, s)
                 for s in (layer.removeprefix("pipeline.") for layer in PIPELINE_LAYERS)}

        def wrap(stage, fn):
            def traced(*a, **kw):
                return tracer.call(f"pipeline.{stage}", None, fn, *a, **kw)[0]
            return traced

        for s, fn in saved.items():
            setattr(pipeline, s, wrap(s, fn))
        try:
            root, bad = self._run_pipeline(tracer)
        finally:
            for s, fn in saved.items():
                setattr(pipeline, s, fn)
        for layer in LAKE_LAYERS:
            b, n = tree_stats(os.path.join(root, layer))
            self.layer[f"sources.bytes_written.{layer}"] = b
            self.layer[f"sources.files_written.{layer}"] = n
        self.layer["cleaning.lbc_keep_ratio"] = (
            self.lake.expected["lbc-annonces"] / self.lake.raw_ads)
        return bad


# --- corpus_ingest ---------------------------------------------------

def _write_batch(path: str, rows: list[tuple]) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = list(zip(*rows))
    table = pa.table({
        "doc_id": pa.array(cols[0], pa.int64()), "text": pa.array(cols[1], pa.string()),
        "lang": pa.array(cols[2], pa.string()), "source": pa.array(cols[3], pa.string()),
        "n_chars": pa.array(cols[4], pa.int64()),
    })
    os.makedirs(path)
    pq.write_table(table, os.path.join(path, "part-0.parquet"))


class CorpusIngest(Workload):
    """The timed operation is one ingest into a persisted history: a copy
    of a lake that already holds the first batch takes the second batch
    through ``incremental_ingest(near_dup=True)``, then
    ``maintain_lake``. Every operation does the same work against the
    same history, so the samples do not depend on how many of them a
    run makes, and a run never runs out of input. The history lake is
    written once in set-up; copying it is not timed."""

    name = "corpus_ingest"
    op_name = "ingest.op"
    item = "docs"
    child, child_label = "ingest", "ingest_batch"
    BATCH_DOCS = 250
    TRACED_OPS = 1
    # the history's append and the operation's make two files per
    # layer: above one, maintenance compacts them
    COMPACT_ABOVE_FILES = 1
    BUILD_DOCS = 1000

    def generate(self) -> None:
        corpus = gen.make_corpus(self.seed, 2 * self.BATCH_DOCS)
        # batch 0 is the history, batch 1 re-sends some of its docs and
        # carries the corpus's exact and near duplicates of it
        self.batches = gen.split_batches(corpus, self.BATCH_DOCS, self.seed)[:2]
        self.batch_paths = []
        for b, batch in enumerate(self.batches):
            path = os.path.join(self.work, "arrivals", f"batch{b}")
            _write_batch(path, batch.rows)
            self.batch_paths.append(path)
        self.input_bytes = sum(tree_stats(p)[0] for p in self.batch_paths)
        self.n_lakes = 0
        self.op_lakes: list[tuple[str, int]] = []  # (lake, docs it should hold)
        self.maintain: list[dict] = []

    def _new_lake(self) -> str:
        self.n_lakes += 1
        return os.path.join(self.work, f"corpus_lake{self.n_lakes}")

    def _ingest(self, tracer: Tracer, name: str, iteration: int | None, b: int,
                lake: str) -> int:
        from projet_big_data_boutin_danre_spark.corpus_pipeline import incremental_ingest

        out, _ = tracer.call(name, iteration, incremental_ingest, self.spark, self.docs[b],
                             lake, near_dup=True)
        return out["admitted"]

    def _write_history(self, tracer: Tracer, name: str) -> None:
        """Batch 0 into a fresh lake: the history every operation copies."""
        self.history = self._new_lake()
        self.history_docs = self._ingest(tracer, name, 0, 0, self.history)

    def _op(self, tracer: Tracer, lake: str) -> int:
        from projet_big_data_boutin_danre_spark.corpus_pipeline import maintain_lake

        admitted = self._ingest(tracer, "ingest", None, 1, lake)
        # bytes_rewritten needs the files before maintenance: traced only
        before = gen.file_sizes(lake) if tracer.spark is not None else {}
        out, _ = tracer.call("maintain", None, maintain_lake, self.spark, lake,
                             compact_above_files=self.COMPACT_ABOVE_FILES)
        if tracer.spark is not None:
            after = gen.file_sizes(lake)
            self.maintain.append({
                "files_before": out["files_before"], "files_after": out["files_after"],
                "bytes_rewritten": sum(n for p, n in after.items() if before.get(p) != n),
            })
        return admitted

    def warm_up(self, tracer: Tracer) -> None:
        self.docs = [self.spark.read.parquet(p) for p in self.batch_paths]
        self._write_history(tracer, "ingest.history")
        # the cold first batch leaves ingest-with-history and maintenance
        # cold too: one untimed operation warms them
        _, bad = self.step(tracer, -1)
        bad += self.finish(tracer)
        if bad:
            raise RuntimeError(f"warm-up output check failed: {bad}")

    def step(self, tracer: Tracer, i: int) -> tuple[int, list[str]]:
        lake = self._new_lake()
        with self.checking():
            shutil.copytree(self.history, lake)
        admitted, _ = tracer.call(self.op_name, i, self._op, tracer, lake)
        self.op_lakes.append((lake, self.history_docs + admitted))
        self.last_admitted = admitted
        return len(self.batches[1].rows), []

    def finish(self, tracer: Tracer) -> list[str]:
        """Per operation: docs admitted == ``recount_lake_docs`` == rows
        on disk (DuckDB), no doc id twice (a re-sent doc admitted
        again), no text twice (an exact duplicate admitted)."""
        from projet_big_data_boutin_danre_spark.corpus_pipeline import recount_lake_docs

        bad = []
        with self.checking():
            con = _duck()
            for lake, want in self.op_lakes:
                n = recount_lake_docs(self.spark, lake)
                total, ids, texts = con.execute(
                    "SELECT count(*), count(DISTINCT doc_id), count(DISTINCT text) "
                    "FROM read_parquet(?)", [f"{lake}/docs/**/*.parquet"]).fetchone()
                if not (n == want == total):
                    bad.append(f"{lake}: recount {n}, admitted {want}, on disk {total}")
                if ids != total:
                    bad.append(f"{lake}: {total - ids} doc_ids admitted twice")
                if texts != total:
                    bad.append(f"{lake}: {total - texts} exact-duplicate texts admitted")
            con.close()
        self.last_lake = self.op_lakes[-1][0]
        self.op_lakes.clear()
        return bad

    def lake_bytes(self) -> int:
        return tree_stats(self.last_lake)[0]

    def rebind(self, tracer: Tracer) -> None:
        # the restarted session writes its own history lake, whose batch
        # also warms it; the JVM itself is warm by then
        self.docs = [self.spark.read.parquet(p) for p in self.batch_paths]
        self._write_history(tracer, "ingest.first_batch")

    def trace_extra(self, tracer: Tracer) -> list[str]:
        """The first batch's time against the traced operations' batch,
        and one corpus build (``run_corpus_pipeline(force=True)``, the
        production recipe: fast hash family, sampling on) over a corpus
        from the same generator, for the build layers (corpus_build is
        not a timed workload: see BENCHMARK.json)."""
        from projet_big_data_boutin_danre_spark.corpus_pipeline import (
            CorpusRecipe,
            run_corpus_pipeline,
        )

        def secs(name):
            return statistics.median(s.end - s.start for s in tracer.spans if s.name == name)

        self.layer["ingest.admit_ratio"] = self.last_admitted / len(self.batches[1].rows)
        self.layer["ingest.history_growth_ratio"] = secs("ingest") / secs("ingest.first_batch")
        for k in ("files_before", "files_after", "bytes_rewritten"):
            self.layer[f"maintain.{k}"] = statistics.median(m[k] for m in self.maintain)

        corpus = gen.make_corpus(self.seed + 1, self.BUILD_DOCS)
        src = os.path.join(self.work, "build_input")
        _write_batch(src, corpus.rows)
        out = os.path.join(self.work, "build_lake")
        recipe = CorpusRecipe(sample_fractions={"en": 1.0, "fr": 1.0}, sample_default=0.5)
        counts, _ = tracer.call("build", 0, run_corpus_pipeline, self.spark,
                                self.spark.read.parquet(src), out, recipe, force=True)
        for layer in BUILD_LAYERS:
            self.layer[f"build.rows.{layer}"] = counts[layer]
            self.layer[f"build.bytes.{layer}"] = tree_stats(os.path.join(out, layer))[0]
        self.layer["build.dedup_keep_ratio"] = counts["deduped"] / counts["gated"]
        con = _duck()
        kept = {r[0] for r in con.execute(
            "SELECT doc_id FROM read_parquet(?)", [f"{out}/deduped/*.parquet"]).fetchall()}
        con.close()
        bad = [f"build: {len(kept & set(ids))} survivors of one exact-duplicate group"
               for ids in corpus.exact_groups.values() if len(kept & set(ids)) > 1]
        if len(kept) != counts["deduped"]:
            bad.append(f"build: deduped layer holds {len(kept)} ids, run returned {counts['deduped']}")
        return bad


WORKLOADS = {w.name: w for w in (EstateQueries, CorpusIngest)}
