"""The workloads: set-up, the timed rounds, and output checks.

Every workload runs whole rounds of the same operations until the
timed phase has lasted ``seconds``; each operation is one or more
calls into the program's public functions, timed from outside by
``meter.Meter``.  Checks read the program's outputs with pyarrow (or
take the collected query result) and compare them with answers that
``gen`` computed from the generated inputs.
"""

from __future__ import annotations

import os
import shutil
import statistics
import threading
import time
import traceback
from dataclasses import dataclass, field
from datetime import datetime

import numpy as np
import pandas as pd
import pyarrow.dataset as pads

import gen
from meter import Meter


class CheckFailed(AssertionError):
    pass


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def op_failed(res: "Result", n: int = 1) -> None:
    """Count ``n`` failed operations and report the exception."""
    traceback.print_exc()
    res.failed += n


def must_reject(check, *args) -> None:
    """Self-test: ``check`` must raise on a deliberately corrupted output."""
    try:
        check(*args)
    except CheckFailed:
        return
    raise CheckFailed(f"self-test: {check.__name__} accepted a corrupted output")


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def read_parquet(path: str, columns: list[str] | None = None) -> pd.DataFrame:
    """Read a Spark-written parquet directory without Spark."""
    ds = pads.dataset(path, format="parquet", partitioning="hive",
                      exclude_invalid_files=True)
    if not ds.files:  # e.g. a band index whose batch dirs were all folded
        return pd.DataFrame(columns=columns)
    return ds.to_table(columns=columns).to_pandas()


@dataclass
class Result:
    """What a workload hands back to ``run.py``."""

    setup_s: float = 0.0
    first_call: int = 0  # index of the first timed call in Meter.calls
    op_walls: list[float] = field(default_factory=list)  # one per operation
    rounds: list[tuple[float, float]] = field(default_factory=list)  # (start, end)
    round_walls: list[float] = field(default_factory=list)  # fixed input -> result
    store_bytes: int = 0
    input_bytes: int = 0
    attempted: int = 0
    failed: int = 0
    failure: str | None = None  # first failed output check
    layer: dict = field(default_factory=dict)  # operator outcomes
    batches: list = field(default_factory=list)  # dedup_stream: (start, end) per batch


class Workload:
    name = ""
    prepare_reps = 3
    min_rounds = 1

    def __init__(self, spark, work: str, seed: int, seconds: float, meter: Meter):
        self.spark, self.work, self.seed, self.seconds = spark, work, seed, seconds
        self.meter = meter
        self.self_tested = False

    # set-up: ``prepare`` builds the inputs (repeated; its median counts),
    # ``warm_up`` runs once so no timed operation pays for a cold path
    def prepare(self) -> None:
        raise NotImplementedError

    def warm_up(self) -> None:
        raise NotImplementedError

    def round(self, res: Result) -> None:
        raise NotImplementedError

    def finish(self, res: Result) -> None:
        pass

    def run(self, session_s: float) -> Result:
        reps = []
        for _ in range(self.prepare_reps):
            t0 = time.time()
            self.prepare()
            reps.append(time.time() - t0)
        t0 = time.time()
        self.warm_up()
        warm_s = time.time() - t0
        res = Result(
            setup_s=session_s + statistics.median(reps) + warm_s,
            first_call=len(self.meter.calls),
        )
        start = time.time()
        try:
            while True:
                t0 = time.time()
                self.round(res)
                res.rounds.append((t0, time.time()))
                if (time.time() - start >= self.seconds
                        and len(res.rounds) >= self.min_rounds):
                    break
            self.finish(res)
        except CheckFailed as exc:
            res.failure = str(exc)
        return res


# ---------------------------------------------------------------------------
# vcf_store: parse -> store -> append -> compact, then the query mix
# ---------------------------------------------------------------------------


def info_frame(store: str) -> pd.DataFrame:
    return read_parquet(
        f"{store}/variant_info", ["variant_id", "chr", "start", "ref", "alt", "af"]
    ).sort_values("variant_id", ignore_index=True)


def geno_frame(store: str) -> pd.DataFrame:
    return read_parquet(f"{store}/variant_geno", ["variant_id", "sample", "gt", "dp"])


def expected_info(variants: list[gen.Variant]) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "variant_id": np.arange(1, len(variants) + 1, dtype="int64"),
            "chr": [v.chrom for v in variants],
            "start": [v.pos for v in variants],
            "ref": [v.ref for v in variants],
            "alt": [v.alt for v in variants],
            "af": [v.af for v in variants],
        }
    )


def expected_geno(vs: gen.VcfSet, ids) -> pd.DataFrame:
    rows = vs.geno_rows(ids)
    return pd.DataFrame(rows, columns=["variant_id", "sample", "gt", "dp"])


def _canon_geno(df: pd.DataFrame) -> pd.DataFrame:
    out = df[["variant_id", "sample", "gt", "dp"]].copy()
    out["variant_id"] = out["variant_id"].astype("int64")
    out["gt"] = out["gt"].astype("float64")
    out["dp"] = out["dp"].astype("float64")
    return out.sort_values(["variant_id", "sample"], ignore_index=True)


def check_geno(got: pd.DataFrame, want: pd.DataFrame) -> None:
    g, w = _canon_geno(got), _canon_geno(want)
    expect(len(g) == len(w), f"genotype rows: got {len(g)}, want {len(w)}")
    expect(
        g["variant_id"].to_numpy().tolist() == w["variant_id"].to_numpy().tolist()
        and g["sample"].tolist() == w["sample"].tolist(),
        "genotype (variant_id, sample) keys differ",
    )
    for col in ("gt", "dp"):
        a, b = g[col].to_numpy(), w[col].to_numpy()
        expect(
            bool(np.array_equal(np.isnan(a), np.isnan(b)))
            and bool(np.array_equal(a[~np.isnan(a)], b[~np.isnan(b)])),
            f"genotype column {col} differs",
        )


def check_info(got: pd.DataFrame, want: pd.DataFrame) -> None:
    expect(len(got) == len(want), f"variant_info rows: got {len(got)}, want {len(want)}")
    expect(
        got["variant_id"].tolist() == list(range(1, len(want) + 1)),
        "variant_id is not dense 1..N",
    )
    for col in ("chr", "start", "ref", "alt", "af"):
        expect(got[col].tolist() == want[col].tolist(), f"variant_info.{col} out of id order or wrong")


class VcfStore(Workload):
    """One round: build a table-mode store (parse, write, append an
    increment, compact ``variant_geno``) as one operation, then the
    reference's query mix against that store, one query per operation."""

    name = "vcf_store"
    # > 5,200 variants so the semi-join pull has ids to draw from
    N_VARIANTS, N_INCREMENT, N_SAMPLES = 6000, 500, 30
    N_FILTER_GENES = 6
    INLIST_IDS, SEMIJOIN_IDS = 1000, 5200  # either side of the 5,000-id switch
    AF = 0.01
    # Query rounds in set-up.  The first rounds of a session ran 30-50%
    # slower while the JVM compiled the planner, and how far that climb
    # had got by the first timed query moved with host load.
    WARM_ROUNDS = 3
    # two timed rounds: a host-load burst that slows one build moves
    # run_wall_s, the median of two rounds, by half as much
    min_rounds = 2

    def prepare(self) -> None:
        inputs = f"{self.work}/inputs"
        shutil.rmtree(inputs, ignore_errors=True)
        self.vs = gen.make_vcf_set(
            inputs, self.seed, self.N_VARIANTS, self.N_INCREMENT, self.N_SAMPLES
        )
        allv = self.vs.all_variants()
        self.want_info = expected_info(allv)
        self.want_geno = expected_geno(self.vs, range(1, len(allv) + 1))
        self.want_impact = self.vs.impact_rows(allv)
        self.mix = self._mix()

    def _mix(self) -> list[tuple]:
        """(layer, args, expected) for one round's queries, fixed by the seed."""
        import random

        rng = random.Random(f"mix:{self.seed}")
        vs = self.vs
        allv = vs.all_variants()
        n = len(allv)
        others = [g for g in vs.genes if g != vs.hot_gene]
        genes = [vs.hot_gene] + rng.sample(others, self.N_FILTER_GENES - 1)
        mix = [("filter_test", (g,), vs.filter_test(g, self.AF)) for g in genes]
        for layer, k in (("pull_vars_by_id.inlist", self.INLIST_IDS),
                         ("pull_vars_by_id.semijoin", self.SEMIJOIN_IDS)):
            ids = sorted(rng.sample(range(1, n + 1), k))
            mix.append((layer, (ids,), expected_geno(vs, ids)))
        g = rng.choice(others[:10])
        ids = sorted(i for i, _, _ in vs.filter_test(g, self.AF))
        mix.append(("pull_geno_test", (g,), expected_geno(vs, ids)))
        for _ in range(2):
            v = allv[rng.randrange(n)]
            start, end = v.pos - 20_000, v.pos + 20_000
            mix.append(("interval_query", (v.chrom, start, end), vs.interval(v.chrom, start, end)))
        mix.append(("per_gene_counts", (), vs.per_gene_counts(self.AF)))
        return mix

    def _build(self, store: str, meter: Meter | None):
        from vcfdbr_spark.sources.build import append_vcf, compact_table
        from vcfdbr_spark.sources.store import write_vcfdb
        from vcfdbr_spark.sources.vcf import read_vcf

        call = meter.call if meter else (lambda _n, f, *a, **k: f(*a, **k))
        tables = call("sources.vcf.read_vcf", read_vcf, self.spark, self.vs.base_path)
        call("sources.store.write_vcfdb", write_vcfdb, tables, store)
        yield tables
        n = call("sources.build.append_vcf", append_vcf, self.spark, self.vs.inc_path, store)
        yield n
        call("sources.build.compact_table", compact_table, self.spark, store, "variant_geno")
        yield None

    def query(self, db, layer: str, args: tuple) -> pd.DataFrame:
        from vcfdbr_spark.operators import query as q

        if layer == "filter_test":
            df = q.filter_test(db.variant_impact, db.variant_info, args[0], af=self.AF)
        elif layer.startswith("pull_vars_by_id"):
            df = q.pull_vars_by_id(db.variant_geno, args[0])
        elif layer == "pull_geno_test":
            df = q.pull_geno_test(db.variant_impact, db.variant_info, db.variant_geno, args[0], af=self.AF)
        elif layer == "interval_query":
            df = q.interval_query(db.variant_info, *args)
        else:
            df = q.per_gene_counts(db.variant_impact, db.variant_info, af=self.AF)
        return df.toPandas()

    @staticmethod
    def check(layer: str, got: pd.DataFrame, want) -> None:
        if layer == "filter_test":
            rows = set(zip(got["variant_id"].tolist(), got["symbol"].tolist(), got["af"].tolist()))
            expect(len(rows) == len(got) and rows == want, f"filter_test result differs ({len(got)} rows)")
        elif layer == "interval_query":
            ids = got["variant_id"].tolist()
            expect(len(ids) == len(set(ids)) and set(ids) == want, "interval_query result differs")
        elif layer == "per_gene_counts":
            rows = set(zip(got["symbol"], got["n_vars"].tolist(), got["bin"].tolist()))
            expect(len(rows) == len(got) and rows == want, "per_gene_counts result differs")
        else:
            check_geno(got, want)

    def warm_up(self) -> None:
        """One untimed round at full size: the first store build of a
        session costs several times a later one (26 jobs in 23.0 s, then
        18 jobs in about 6 s, measured while sizing), then the query
        rounds against that store."""
        from vcfdbr_spark.sources.store import open_vcfdb

        store = f"{self.work}/warm-store"
        for _ in self._build(store, None):
            pass
        self.spark.catalog.clearCache()
        db = open_vcfdb(self.spark, store)
        for _ in range(self.WARM_ROUNDS):
            for layer, args, _ in self.mix:
                self.query(db, layer, args)
        shutil.rmtree(store, ignore_errors=True)

    def round(self, res: Result) -> None:
        from vcfdbr_spark.sources.store import open_vcfdb

        store = f"{self.work}/store"
        shutil.rmtree(store, ignore_errors=True)
        ops = 1 + len(self.mix)
        res.attempted += ops
        first = len(self.meter.calls)
        try:
            steps = self._build(store, self.meter)
            tables = next(steps)
            n_new = next(steps)
            pre = geno_frame(store)  # read between the append and the compaction
            next(steps)
        except Exception:
            op_failed(res, ops)  # no store, so none of the queries can run
            self.spark.catalog.clearCache()
            return
        build_s = sum(c.wall_s for c in self.meter.calls[first:])
        res.op_walls.append(build_s)
        self.spark.catalog.clearCache()  # read_vcf leaves its parse cached

        rejects = sorted(
            (r.chr, -1 if r.start is None else r.start, r.ref, r.alt, r.reason)
            for r in tables.rejects.collect()
        )
        expect(rejects == self.vs.rejects, f"rejects {rejects} != planted {self.vs.rejects}")
        expect(n_new == len(self.vs.inc), f"append_vcf returned {n_new}")
        info = info_frame(store)
        check_info(info, self.want_info)  # dense ids; append continues at N+1
        check_geno(pre, self.want_geno)
        post = geno_frame(store)
        check_geno(post, self.want_geno)  # compaction keeps the row multiset
        n_impact = len(read_parquet(f"{store}/variant_impact", ["variant_id"]))
        expect(n_impact == self.want_impact, f"variant_impact rows {n_impact} != {self.want_impact}")
        if not self.self_tested:
            must_reject(check_geno, post.drop(index=post.index[len(post) // 2]), self.want_geno)
            bad = info.copy()
            bad.loc[len(bad) // 3, "af"] += 0.001
            must_reject(check_info, bad, self.want_info)

        # A build leaves seconds of JIT compilation queued (jvm.jit_s is
        # ~15 s per build against ~0.2 s per query); without this wait it
        # ran under the first queries and moved their median 0.31-0.50 s
        # between seeds.
        self.meter.beans.settle()
        db = open_vcfdb(self.spark, store)
        query_s = 0.0
        for layer, args, want in self.mix:
            first = len(self.meter.calls)
            try:
                got = self.meter.call(f"operators.query.{layer}", self.query, db, layer, args)
            except Exception:
                op_failed(res)
                continue
            call = self.meter.calls[first]
            res.op_walls.append(call.wall_s)
            query_s += call.wall_s
            self.check(layer, got, want)
            key = f"rows.{layer}"
            res.layer[key] = res.layer.get(key, 0) + len(got)
            if not self.self_tested and layer == "pull_vars_by_id.inlist":
                must_reject(self.check, layer, got.iloc[1:], want)
        self.self_tested = True
        res.round_walls.append(build_s + query_s)
        res.store_bytes = dir_bytes(store)
        res.input_bytes = self.vs.input_bytes

    def finish(self, res: Result) -> None:
        ft = next(w for lay, _, w in self.mix if lay == "filter_test" and w)
        bad = pd.DataFrame(sorted(ft), columns=["variant_id", "symbol", "af"])
        bad.loc[0, "af"] += 0.001
        must_reject(self.check, "filter_test", bad, ft)


# ---------------------------------------------------------------------------
# dedup_stream: the streaming quality filter + fuzzy dedup
# ---------------------------------------------------------------------------


def replay_first_seen(batches: list[set[int]], pairs: set[tuple[int, int]]) -> set[int]:
    """Python replay of stream_corpus_filter's documented keep policy:
    a survivor drops if it pairs with any earlier survivor, if its
    in-batch component holds such a document, or if it is not the
    smallest id of its in-batch component."""
    adj: dict[int, set[int]] = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    history: set[int] = set()
    kept: set[int] = set()
    for surv in batches:
        matched = {d for d in surv if adj.get(d, set()) & history}
        seen: set[int] = set()
        for d in sorted(surv):
            if d in seen:
                continue
            comp, todo = {d}, [d]
            while todo:
                x = todo.pop()
                for y in adj.get(x, ()):
                    if y in surv and y not in comp:
                        comp.add(y)
                        todo.append(y)
            seen |= comp
            if not comp & matched:
                kept.add(min(comp))
        history |= surv
    return kept


class DedupStream(Workload):
    name = "dedup_stream"
    N_FILES, DOCS_PER_FILE = 2, 300
    # The default fold threshold (16 batch dirs) needs 17 micro-batches
    # of 5-10 s each on 4 cores, more than one run can hold.  At 1 every
    # batch folds, so the timed batch both probes a folded index and
    # folds its own band rows into it.
    COMPACT_EVERY = 1

    def __init__(self, *a, **k):
        super().__init__(*a, **k)
        # (start, seconds) per non-empty micro-batch, appended from the
        # listener's callback thread
        self.progress: list[tuple[float, float]] = []
        self.lock = threading.Lock()
        from pyspark.sql.streaming import StreamingQueryListener

        sink, lock = self.progress, self.lock

        class Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                if p.numInputRows > 0:
                    start = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00"))
                    with lock:
                        sink.append((start.timestamp(), p.durationMs["triggerExecution"] / 1e3))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.spark.streams.addListener(Progress())

    def prepare(self) -> None:
        corpus = f"{self.work}/corpus"
        shutil.rmtree(corpus, ignore_errors=True)
        self.corpus = gen.make_corpus(corpus, self.seed, self.N_FILES, self.DOCS_PER_FILE)

    def _stream(self, call) -> None:
        from vcfdbr_spark.streaming.ingest import stream_corpus_filter

        call("streaming.ingest.stream_corpus_filter", stream_corpus_filter,
             self.spark, f"{self.work}/src", f"{self.work}/out",
             max_files_per_trigger=1, compact_every=self.COMPACT_EVERY)

    def _arrive(self, files: list[str]) -> None:
        os.makedirs(f"{self.work}/src", exist_ok=True)
        for f in files:
            shutil.copy2(f, f"{self.work}/src/")  # keeps the ordering mtimes

    def _first_batch(self) -> None:
        """Start a fresh stream and feed it the first file, untimed."""
        for d in ("src", "out"):
            shutil.rmtree(f"{self.work}/{d}", ignore_errors=True)
        self._arrive(self.corpus.paths[:1])
        self._stream(lambda _n, f, *a, **k: f(*a, **k))

    def warm_up(self) -> None:
        """The first file's micro-batch is the stream's cold start."""
        self._first_batch()

    def _batches(self, lo: float, hi: float, n: int) -> list[tuple[float, float]]:
        """(start, seconds) of the micro-batches that started in [lo, hi];
        progress events reach the listener asynchronously."""
        deadline = time.time() + 30
        while True:
            with self.lock:
                got = sorted(b for b in self.progress if lo <= b[0] <= hi)
            if len(got) >= n or time.time() > deadline:
                return got
            time.sleep(0.05)

    def round(self, res: Result) -> None:
        if res.rounds:
            self._first_batch()
        n = self.N_FILES - 1
        first = len(self.meter.calls)
        res.attempted += n
        self._arrive(self.corpus.paths[1:])
        try:
            self._stream(self.meter.call)
        except Exception:
            op_failed(res, n)
            return
        call = self.meter.calls[first]
        batches = self._batches(call.start, call.end, n)
        expect(len(batches) == n, f"stream reported {len(batches)} of {n} micro-batches")
        for t0, secs in batches:
            res.batches.append((t0, t0 + secs))
            res.op_walls.append(secs)
        res.round_walls.append(call.wall_s)
        out = f"{self.work}/out"
        self._check(out, res)
        res.store_bytes = dir_bytes(out)
        res.input_bytes = self.corpus.input_bytes

    def _check(self, out: str, res: Result) -> None:
        import duckdb
        from vcfdbr_spark.entry_queries import SQL_MINHASH_PAIRS

        docs = {d["doc_id"]: d for d in self.corpus.docs()}
        want_surv = {i for i, d in docs.items() if gen.passes_gates(d["text"])}
        idx_dirs = [p for p in (f"{out}/band_index", f"{out}/band_index_compacted") if os.path.isdir(p)]
        surv = set()
        for p in idx_dirs:
            surv |= set(read_parquet(p, ["doc_id"])["doc_id"].tolist())
        expect(surv == want_surv, f"survivors: {len(surv)} indexed, {len(want_surv)} pass the gates")

        pairs_df = read_parquet(f"{out}/pairs", ["a", "b"])
        pairs = set(zip(pairs_df["a"].tolist(), pairs_df["b"].tolist()))
        documents = pd.DataFrame(
            {"doc_id": sorted(want_surv), "text": [docs[i]["text"] for i in sorted(want_surv)]}
        )
        con = duckdb.connect()
        try:
            con.register("documents", documents)
            oracle = set(map(tuple, con.execute(SQL_MINHASH_PAIRS).fetchall()))
        finally:
            con.close()
        expect(pairs == oracle, f"stream pairs {len(pairs)} != one-shot banding {len(oracle)}")

        batches = [{d["doc_id"] for d in f} & want_surv for f in self.corpus.files]
        want_kept = replay_first_seen(batches, pairs)
        kept = read_parquet(f"{out}/kept", ["doc_id"])["doc_id"].tolist()
        self.check_kept(kept, want_kept)
        for members in self.corpus.clusters:
            expect(len(set(members) & want_kept) <= 1, f"planted cluster {members} kept twice")
        if not self.self_tested:
            extra = next(i for i in sorted(want_surv) if i not in want_kept)
            must_reject(self.check_kept, kept + [extra], want_kept)
            self.self_tested = True

        files = [os.path.join(r, f) for p in idx_dirs for r, _, fs in os.walk(p)
                 for f in fs if f.endswith(".parquet")]
        true = sum(gen.jaccard(docs[a]["text"], docs[b]["text"]) >= gen.JACCARD_THRESHOLD
                   for a, b in pairs)
        res.layer.update({
            "operators.pipeline.survivor_ratio": len(surv) / len(docs),
            "operators.dedup.candidate_pairs": len(pairs),
            "operators.dedup.pair_precision": true / len(pairs) if pairs else 1.0,
            "operators.dedup.index_files_end": len(files),
            "operators.dedup.index_mb_end": sum(os.path.getsize(f) for f in files) / 2**20,
        })

    @staticmethod
    def check_kept(kept: list[int], want: set[int]) -> None:
        expect(len(kept) == len(set(kept)) and set(kept) == want,
               f"kept {len(kept)} docs, first-seen-wins replay keeps {len(want)}")


WORKLOADS = {w.name: w for w in (VcfStore, DedupStream)}
