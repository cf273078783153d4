"""The three workloads: inputs, warm-up, timed run, output check, trace.

Each workload drives the engine only through its public functions, on
inputs written by ``gen`` to parquet before any timing starts.  A run is
one closed-loop request: the next run starts when the previous result
has been fully consumed.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen
import sqlmetrics as sm

# a batch call's executions (Spark's clock, ms) may exceed its wall (ours)
# by this factor plus 50 ms before the attribution counts as broken
ATTRIBUTION_SLACK = 1.02

# input files per table: a scan splits per file, so this many files keep
# the first stage of every workload parallel on small inputs
N_FILES = 8


def _write_parquet(df, path: str, schema: pa.Schema) -> int:
    """Write ``df`` as ``N_FILES`` parquet files under ``path``."""
    os.makedirs(path, exist_ok=True)
    table = pa.Table.from_pandas(df, schema=schema, preserve_index=False)
    bounds = np.linspace(0, table.num_rows, N_FILES + 1).astype(int)
    for i in range(N_FILES):
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]),
                       os.path.join(path, f"part-{i:03d}.parquet"))
    return table.num_rows


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    """Shared shape; subclasses fill in the engine calls."""

    name = ""
    nominal_run_s = 1.0  # a run's wall on a 4-core host; sets the run count
    # runs after set-up that are checked but not timed: run walls fall for
    # a few runs after set-up (JIT), and these skip the steepest part of
    # that fall (DESIGN.md)
    settle_runs = 1

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.n_input = 0

    # -- hooks ----------------------------------------------------------
    def prepare(self) -> None:
        """Generate inputs and oracle expectations (untimed)."""
        raise NotImplementedError

    def warm_up(self, spark) -> None:
        raise NotImplementedError

    def run(self, spark) -> tuple[list[float], object]:
        """One timed run: (per-batch latencies, output for ``check``)."""
        raise NotImplementedError

    def check(self, spark, output) -> str | None:
        """None when the output is correct, else what is wrong."""
        raise NotImplementedError

    def after_run(self, spark) -> None:
        """Workload-owned clean-up between runs (untimed)."""

    def trace(self, spark, store: sm.StatusStore
              ) -> tuple[float, dict, dict]:
        """One traced pass: (traced wall, per-layer figures of the pass,
        figures of reference spans measured outside the pass)."""
        raise NotImplementedError

    # layers whose self_s must add up to the traced wall
    pass_layers: tuple[str, ...] = ()


# ==========================================================================
# score_ways: the flagship scoring pipeline
# ==========================================================================

class ScoreWays(Workload):
    """Seeded street blocks through ``score_way_table``.

    Blocks never come within the 22 m join radius of each other, so the
    first ``CHECK_BLOCKS`` blocks are a closed input: their output rows
    in the full run must equal the pandas kernel's rows on those blocks
    alone.
    """

    name = "score_ways"
    nominal_run_s = 3.0
    settle_runs = 2
    BLOCKS = 160
    CHECK_BLOCKS = 12
    pass_layers = ("pipeline.sample_points", "pipeline.road_cell_index",
                   "pipeline.dwithin_pairs", "pipeline.sidepath_aggregates",
                   "pipeline.writeback", "pipeline.score_batches")

    def _schema(self) -> pa.Schema:
        return pa.schema([pa.field(c, pa.string()) for c in gen.WAY_COLUMNS]
                         + [pa.field("geom_lonlat", pa.list_(pa.float64()))])

    def prepare(self) -> None:
        ways = gen.ways(self.seed, self.BLOCKS)
        self.path = os.path.join(self.work, "ways")
        self.n_input = _write_parquet(ways, self.path, self._schema())
        warm = gen.ways(self.seed + 1, self.BLOCKS // 4)
        self.warm_path = os.path.join(self.work, "ways_warm")
        _write_parquet(warm, self.warm_path, self._schema())
        blocks = np.array([gen.block_of(i) for i in ways["id"]])
        check_ways = ways[blocks < self.CHECK_BLOCKS].reset_index(drop=True)
        self.check_ids = list(check_ways["id"])
        self.expected = self._oracle(check_ways)

    @staticmethod
    def _oracle(ways) -> list[tuple]:
        """(id, side, row_sha) rows of the pandas reference kernel."""
        from cqi_engine.geometry import lonlat_to_metric
        from cqi_engine.kernel.pipeline import final_projection, score_ways
        from cqi_engine.sources.webways import digest_rows_pdf

        pdf = ways.copy()
        pdf["geom_lonlat"] = [g.reshape(-1, 2) for g in pdf["geom_lonlat"]]
        pdf["geom_metric"] = [
            np.column_stack(lonlat_to_metric(g[:, 0], g[:, 1]))
            for g in pdf["geom_lonlat"]]
        out = digest_rows_pdf(final_projection(score_ways(pdf)))
        return sorted(map(tuple, out.itertuples(index=False)))

    def _score(self, spark, path: str):
        from cqi_engine.operators.pipeline import score_way_table
        return score_way_table(spark.read.parquet(path))

    def _consume(self, spark, path: str):
        # the whole table is scored; only the checked blocks' rows reach
        # the driver (the filter cannot pass the opaque scoring stage)
        from pyspark.sql import functions as F
        return (self._score(spark, path)
                .where(F.col("id").isin(self.check_ids)).toPandas())

    def warm_up(self, spark) -> None:
        self._consume(spark, self.warm_path)

    def run(self, spark):
        t0 = time.perf_counter()
        rows = self._consume(spark, self.path)
        return [time.perf_counter() - t0], rows

    def check(self, spark, output) -> str | None:
        from cqi_engine.sources.webways import digest_rows_pdf
        got = sorted(map(tuple, digest_rows_pdf(output)
                         .itertuples(index=False)))
        if got != self.expected:
            diff = sorted({r[0] for r in set(got) ^ set(self.expected)})
            return (f"score_ways: {len(got)} rows on the checked blocks, "
                    f"oracle has {len(self.expected)}; rows of "
                    f"{len(diff)} ways differ: {', '.join(diff[:8])}")
        if not got:
            return "score_ways: checked blocks produced no rows"
        return None

    def trace(self, spark, store):
        from pyspark.sql import functions as F

        from cqi_engine import config as C
        from cqi_engine.operators import pipeline as P

        t_pass = time.perf_counter()
        # the same composition as score_way_table, cut at each layer:
        # every layer's output is persisted by its own no-op write, so the
        # next layer starts from materialized inputs
        ways = (spark.read.parquet(self.path)
                .withColumn("__iid", F.monotonically_increasing_id())
                .localCheckpoint(eager=True))
        paths = (ways.filter(F.col("highway").isin(C.PATH_HIGHWAYS))
                 .drop("id").withColumnRenamed("__iid", "id"))
        roads = (ways.filter(~F.col("highway").isin(C.ROAD_EXCLUDED_HIGHWAYS)
                             | F.col("highway").isNull())
                 .drop("id").withColumnRenamed("__iid", "id"))
        spans = _Spans(store)
        points = spans.cut("pipeline.sample_points",
                           lambda: P.sample_points(paths).persist())
        rcells = spans.cut("pipeline.road_cell_index",
                           lambda: P.road_cell_index(roads).persist())
        pairs = spans.cut("pipeline.dwithin_pairs",
                          lambda: P.dwithin_pairs(points, rcells).persist())
        agg = spans.cut("pipeline.sidepath_aggregates",
                        lambda: P.sidepath_aggregates(points, pairs)
                        .persist())
        enriched = spans.cut("pipeline.writeback",
                             lambda: P.apply_sidepath_spark(
                                 ways.drop("geom_lonlat"), agg).persist())
        spans.cut("pipeline.score_batches",
                  lambda: P.score_batches(enriched))
        wall = time.perf_counter() - t_pass

        ex = spans.read()
        out = {}
        for layer in ("pipeline.sample_points", "pipeline.road_cell_index",
                      "pipeline.score_batches"):
            out[f"{layer}.rows_out"] = sm.root_rows(ex[layer])
            out[f"{layer}.python_s"] = sm.python_s(ex[layer])
        d = ex["pipeline.dwithin_pairs"]
        cand = sm.total(d, "number of output rows",
                        lambda n, desc: "Join" in n and "[cell#" in desc)
        rows = sm.root_rows(d)
        out.update({
            "pipeline.dwithin_pairs.cand_rows": cand,
            "pipeline.dwithin_pairs.rows_out": rows,
            "pipeline.dwithin_pairs.keep_ratio": rows / cand if cand else 0.0,
            "pipeline.dwithin_pairs.shuffle_mb": sm.shuffle_mb(d),
            "pipeline.sidepath_aggregates.shuffle_mb":
                sm.shuffle_mb(ex["pipeline.sidepath_aggregates"]),
            "pipeline.writeback.shuffle_mb":
                sm.shuffle_mb(ex["pipeline.writeback"]),
            "pipeline.writeback.spill_mb":
                sm.spill_mb(ex["pipeline.writeback"]),
        })
        out.update(spans.self_s)
        return wall, out, {}


class _Spans:
    """Times each layer's call plus a no-op write of its output, and
    remembers the execution ids of that write."""

    def __init__(self, store: sm.StatusStore):
        self.store = store
        self.self_s: dict[str, float] = {}
        self._ranges: dict[str, tuple[int, int]] = {}

    def cut(self, layer: str, build):
        """``build()`` calls the layer's function; its driver-side work
        (planning, eager set-up) counts in the layer's ``self_s``."""
        lo = self.store.mark()
        t0 = time.perf_counter()
        df = build()
        _noop(df)
        self.self_s[f"{layer}.self_s"] = time.perf_counter() - t0
        self._ranges[layer] = (lo, self.store.mark())
        return df

    def read(self) -> dict[str, list[sm.Execution]]:
        return {k: self.store.read(lo, hi)
                for k, (lo, hi) in self._ranges.items()}


# ==========================================================================
# documents: shared by both dedup workloads
# ==========================================================================

_DOC_SCHEMA = pa.schema([pa.field("doc_id", pa.int64()),
                         pa.field("text", pa.string())])


def _token_set(text: str) -> frozenset:
    return frozenset(t for t in text.split(" ") if t)


def _jaccard(a: frozenset, b: frozenset) -> float:
    inter = len(a & b)
    return inter / (len(a) + len(b) - inter)


def _duck_pairs(docs) -> list[tuple]:
    """The catalog's DuckDB oracle of ``dedup_minhash_lsh`` on ``docs``."""
    import duckdb

    from cqi_engine.queries.catalog import CATALOG

    con = duckdb.connect()
    try:
        con.execute(f"set threads={os.cpu_count() or 1}")
        con.execute("set enable_progress_bar=false")
        con.register("documents", docs)
        rows = con.sql(CATALOG["dedup_minhash_lsh"].duck_sql).fetchall()
    finally:
        con.close()
    return sorted((int(a), int(b), float(j)) for a, b, j in rows)


class _DocsWorkload(Workload):
    DOCS = 12_000
    WARM_DOCS = 3_000      # the warm-up corpus, from seed + 1
    CHECK_DOCS = 1_000     # prefix graded against the DuckDB oracle
    # the incremental path: this many leading documents, as monotone
    # batches into an empty index
    INC_DOCS = 4_000
    INC_BATCHES = 2

    def __init__(self, seed: int, work: str):
        super().__init__(seed, work)
        self.n_index = 0
        self.last_index = None
        self.index_bytes: list[int] = []

    def prepare(self) -> None:
        self.docs = gen.documents(self.seed, self.DOCS)
        self.tokens = [_token_set(t) for t in self.docs["text"]]
        # input bytes of the documents the incremental path indexes
        self.text_bytes = int(sum(
            len(t.encode("utf-8")) for t in self.docs["text"][:self.INC_DOCS]))
        # the catalog reads <dir>/documents.parquet
        self.dir = os.path.join(self.work, "corpus")
        self.n_input = _write_parquet(
            self.docs, os.path.join(self.dir, "documents.parquet"),
            _DOC_SCHEMA)
        self.warm_dir = os.path.join(self.work, "corpus_warm")
        _write_parquet(gen.documents(self.seed + 1, self.WARM_DOCS),
                       os.path.join(self.warm_dir, "documents.parquet"),
                       _DOC_SCHEMA)
        # every verified pair is decided by its two documents alone, so the
        # oracle on the prefix equals the full output restricted to it
        self.expected = _duck_pairs(self.docs.iloc[:self.CHECK_DOCS])

    def _sound(self, a: int, b: int, jac: float) -> bool:
        j = _jaccard(self.tokens[a], self.tokens[b])
        return j >= 0.9 and abs(j - jac) <= 1e-6

    def _query(self, spark, d: str):
        from cqi_engine.queries.catalog import CATALOG, run_query
        return run_query(spark, d, CATALOG["dedup_minhash_lsh"])

    def _cut_band_frames(self, spark, spans: "_Spans") -> None:
        from cqi_engine.streaming.dedup import band_frames
        docs = spark.read.parquet(
            os.path.join(self.dir, "documents.parquet"))
        spans.cut("dedup.band_frames", lambda: band_frames(docs)[1])

    @staticmethod
    def _band_frames_figures(spans: "_Spans", ex) -> dict:
        return {"dedup.band_frames.self_s":
                spans.self_s["dedup.band_frames.self_s"],
                "dedup.band_frames.rows_out":
                sm.root_rows(ex["dedup.band_frames"])}

    @staticmethod
    def _minhash_figures(spans: "_Spans", ex) -> dict:
        m = ex["catalog.minhash"]
        cand, rows = sm.band_join_rows(m), sm.root_rows(m)
        return {
            "catalog.minhash.self_s": spans.self_s["catalog.minhash.self_s"],
            "catalog.minhash.band_rows": sm.band_rows(m),
            "catalog.minhash.cand_rows": cand,
            "catalog.minhash.rows_out": rows,
            "catalog.minhash.keep_ratio": rows / cand if cand else 0.0,
            "catalog.minhash.shuffle_mb": sm.shuffle_mb(m),
            "catalog.minhash.spill_mb": sm.spill_mb(m),
        }

    # -- the incremental path ------------------------------------------------
    def _new_index(self) -> str:
        self.n_index += 1
        self.last_index = os.path.join(self.work, f"index-{self.n_index}")
        return self.last_index

    def _feed(self, spark, store: sm.StatusStore | None = None):
        """Feed the first ``INC_DOCS`` documents as ``INC_BATCHES``
        monotone batches into a fresh index.  Returns per-batch latencies,
        the duplicate annotations and, with ``store``, each batch call's
        (first execution id, start, end)."""
        from cqi_engine.streaming.dedup import incremental_dedup_batch
        index = self._new_index()
        docs = spark.read.parquet(
            os.path.join(self.dir, "documents.parquet"))
        bounds = np.linspace(0, self.INC_DOCS,
                             self.INC_BATCHES + 1).astype(int)
        lat, dups, calls = [], [], []
        for b in range(self.INC_BATCHES):
            lo = store.mark() if store is not None else None
            t0 = time.perf_counter()
            ann = incremental_dedup_batch(
                spark, docs.where(f"doc_id >= {bounds[b]} and "
                                  f"doc_id < {bounds[b + 1]}"), index, b)
            t1 = time.perf_counter()
            dups.extend(tuple(r) for r in ann.where("is_novel = 0")
                        .select("doc_id", "dup_of", "jaccard").collect())
            lat.append(time.perf_counter() - t0)
            calls.append((lo, t0, t1))
        return lat, dups, calls

    def after_run(self, spark) -> None:
        index = self.last_index
        if index is None:
            return
        size = 0
        for dirpath, _dirs, files in os.walk(index):
            size += sum(os.path.getsize(os.path.join(dirpath, f))
                        for f in files)
        self.index_bytes.append(size)
        for t in spark.catalog.listTables():
            if t.name.startswith("incdedup_"):
                spark.sql(f"DROP TABLE IF EXISTS {t.name}")
        shutil.rmtree(index, ignore_errors=True)
        self.last_index = None

    def _trace_feed(self, spark, store: sm.StatusStore
                    ) -> tuple[float, dict]:
        """One traced feed: (its wall, the ``dedup.annotate`` /
        ``dedup.index_write`` / ``dedup.commit`` figures)."""
        t0 = time.perf_counter()
        _lat, _dups, calls = self._feed(spark, store)
        wall = time.perf_counter() - t0
        bounds = [c[0] for c in calls] + [store.mark()]
        ann_s = write_s = commit_s = 0.0
        cand = verified = read_b = wbytes = wfiles = 0.0
        for i, (_lo, c0, c1) in enumerate(calls):
            ex = store.read(bounds[i], bounds[i + 1])
            writes = [e for e in ex if sm.is_write(e)]
            annotate = [e for e in ex if not sm.is_write(e)
                        and sm.band_join_rows([e]) > 0]
            a_s, w_s = sm.union_seconds(annotate), sm.union_seconds(writes)
            # commit is the rest of the call, so annotate + write + commit
            # adds up to the call wall by construction; what can be checked
            # is that Spark's execution intervals fit inside the call as
            # timed here, i.e. that nothing is attributed twice
            if a_s + w_s > ATTRIBUTION_SLACK * (c1 - c0) + 0.05:
                raise RuntimeError(
                    f"{self.name}: batch {i} attributes "
                    f"{a_s + w_s:.2f} s of executions to a "
                    f"{c1 - c0:.2f} s call")
            ann_s += a_s
            write_s += w_s
            commit_s += max(0.0, (c1 - c0) - a_s - w_s)
            cand += sm.band_join_rows(annotate)
            verified += sm.verified_rows(annotate)
            read_b += sm.total(annotate, "size of files read",
                               lambda n, d: "incdedup_" in n + d)
            wbytes += sm.total(writes, "written output")
            wfiles += sm.total(writes, "number of written files")
        self.after_run(spark)
        return wall, {
            "dedup.annotate.self_s": ann_s,
            "dedup.annotate.cand_rows": cand,
            "dedup.annotate.keep_ratio": verified / cand if cand else 0.0,
            "dedup.annotate.index_read_mb": read_b / 2 ** 20,
            "dedup.index_write.self_s": write_s,
            "dedup.index_write.bytes": wbytes,
            "dedup.index_write.files": wfiles,
            "dedup.commit.self_s": commit_s,
        }


class DedupCorpus(_DocsWorkload):
    """The corpus-at-once ``dedup_minhash_lsh`` catalog query."""

    name = "dedup_corpus"
    nominal_run_s = 2.6
    settle_runs = 2
    pass_layers = ("catalog.minhash",)

    def warm_up(self, spark) -> None:
        self._query(spark, self.warm_dir).collect()

    def run(self, spark):
        t0 = time.perf_counter()
        rows = self._query(spark, self.dir).collect()
        return [time.perf_counter() - t0], rows

    def check(self, spark, output) -> str | None:
        pairs = sorted((r[0], r[1], r[2]) for r in output)
        if len(set((a, b) for a, b, _ in pairs)) != len(pairs):
            return "dedup_corpus: a pair is emitted twice"
        bad = [p for p in pairs if not self._sound(*p)]
        if bad:
            return f"dedup_corpus: {len(bad)} pairs fail the exact verify"
        prefix = [p for p in pairs if p[1] < self.CHECK_DOCS]
        if prefix != self.expected or not prefix:
            return (f"dedup_corpus: {len(prefix)} pairs on the checked "
                    f"prefix, DuckDB oracle has {len(self.expected)}")
        return None

    def trace(self, spark, store):
        spans = _Spans(store)
        t0 = time.perf_counter()
        spans.cut("catalog.minhash",
                  lambda: self._query(spark, self.dir))
        wall = time.perf_counter() - t0
        # reference spans outside the pass: the MinHash core on its own,
        # and the incremental path over the leading documents
        self._cut_band_frames(spark, spans)
        ex = spans.read()
        _inc_wall, inc = self._trace_feed(spark, store)
        return wall, self._minhash_figures(spans, ex), \
            {**self._band_frames_figures(spans, ex), **inc}


class DedupIncremental(_DocsWorkload):
    """The leading documents fed as monotone batches to
    ``incremental_dedup_batch``, from an empty index each run."""

    name = "dedup_incremental"
    nominal_run_s = 7.5
    DOCS = _DocsWorkload.INC_DOCS
    WARM_DOCS = 1_000
    pass_layers = ("dedup.annotate", "dedup.index_write", "dedup.commit")

    def warm_up(self, spark) -> None:
        # one committed batch; the settle run warms the index reads
        from cqi_engine.streaming.dedup import incremental_dedup_batch
        docs = spark.read.parquet(
            os.path.join(self.warm_dir, "documents.parquet"))
        incremental_dedup_batch(spark, docs, self._new_index(), 0) \
            .where("is_novel = 0").collect()
        self.after_run(spark)
        self.index_bytes.clear()

    def run(self, spark):
        lat, dups, _ = self._feed(spark)
        return lat, dups

    def _expected_dups(self) -> list[tuple]:
        best: dict[int, tuple[int, float]] = {}
        for a, b, j in self.expected:
            if b not in best or a < best[b][0]:
                best[b] = (a, j)
        return sorted((b, a, j) for b, (a, j) in best.items())

    def check(self, spark, output) -> str | None:
        dups = sorted(output)
        if len(set(d for d, _, _ in dups)) != len(dups):
            return "dedup_incremental: a document is annotated twice"
        bad = [d for d in dups if not (d[1] < d[0] and self._sound(
            d[1], d[0], d[2]))]
        if bad:
            return (f"dedup_incremental: {len(bad)} duplicates fail the "
                    f"exact verify")
        prefix = [d for d in dups if d[0] < self.CHECK_DOCS]
        want = self._expected_dups()
        if prefix != want or not prefix:
            return (f"dedup_incremental: {len(prefix)} duplicates on the "
                    f"checked prefix, DuckDB oracle implies {len(want)}")
        return None

    def trace(self, spark, store):
        wall, out = self._trace_feed(spark, store)
        # reference spans outside the pass: the MinHash core on its own,
        # and the corpus-at-once query over the same documents
        spans = _Spans(store)
        self._cut_band_frames(spark, spans)
        spans.cut("catalog.minhash",
                  lambda: self._query(spark, self.dir))
        ex = spans.read()
        return wall, out, {**self._band_frames_figures(spans, ex),
                           **self._minhash_figures(spans, ex)}


WORKLOADS = {w.name: w for w in (ScoreWays, DedupCorpus, DedupIncremental)}
