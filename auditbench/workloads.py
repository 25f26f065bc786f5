"""The benchmark's workloads: seeded set-up, a closed measured loop, and
checks of every result against the generator's record.

Each workload is a class with ``generate`` (inputs only, not timed),
``setup`` (timed into ``setup_s``, includes warm-up), ``step`` (one
closed-loop operation, returns its kind and latency) and ``check``
(after the loop, compares recorded results with the generator's record
and returns the number of mismatching operations).
"""

from __future__ import annotations

import os
import random
import time
from contextlib import nullcontext

from pyspark.sql import Window
from pyspark.sql import functions as F

import gen

VIEWS = ("delta", "snapshot", "compare")
QUERY_SPANS = {
    "cold": "reconstruct.lookup",
    "hot": "reconstruct.hot_lookup",
    "asof": "reconstruct.asof",
    "scan": "reconstruct.scan",
}


def _view_name(kind: str) -> str:
    return f"app_audit_users_audit_{kind}"


def _as_text(df):
    """Every column cast to its text form, so results compare with the
    generator's canonical text values."""
    return df.select(*[F.col(c).cast("string").alias(c) for c in df.columns])


def _rows_match(got: dict, want: dict, double_cols: set[str]) -> bool:
    if got.keys() != want.keys():
        return False
    for c, w in want.items():
        g = got[c]
        if c in double_cols and g is not None and w is not None:
            if float(g) != float(w):
                return False
        elif g != w:
            return False
    return True


class TemporalQuery:
    """Provision a table from a heavy-tailed feed, compact its log, land a
    few more micro-batches, then serve a seeded closed loop of view
    queries: point lookups on cold and hot keys, as-of queries and full
    view scans."""

    COLD_KEYS = 2000
    COLD_MEAN_EVENTS = 3.0
    HOT_KEYS = 3
    HOT_EVENTS = 700
    EXTRA_BATCHES = 1
    EXTRA_SHARE = 0.1  # share of the feed landed after compaction
    # One round of the closed loop, in seeded order: a cold-key lookup on
    # each view, two hot-key lookups, one full-view scan and one as-of
    # query. Hot lookups and scans rotate over the views from round to
    # round, so runs of the same length make the same mix of queries.
    ROUND = [("cold", v) for v in VIEWS] + [("hot", None)] * 2 + [("scan", None), ("asof", "snapshot")]

    def __init__(self, root: str, seed: int, tracer=None):
        self.root = root
        self.seed = seed
        self.tracer = tracer
        self.rng = random.Random(f"temporal_query:{seed}:schedule")
        self.results: list[tuple[str, str, object, list]] = []
        self.queue: list[tuple[str, str]] = []
        self.round = 0
        self.hot_turn = 0
        self.rows_read: list[int] = []

    # -- inputs ------------------------------------------------------------
    def generate(self) -> None:
        self.feed = gen.make_feed(
            f"temporal_query:{self.seed}",
            self.COLD_KEYS,
            self.COLD_MEAN_EVENTS,
            self.HOT_KEYS,
            self.HOT_EVENTS,
        )
        n = len(self.feed.events)
        main_end = int(n * (1 - self.EXTRA_SHARE))
        self.src = os.path.join(self.root, "feed")
        self.feed.write(os.path.join(self.src, "part-000.parquet"), 0, main_end, 1e9)
        # later batches wait outside the feed directory until set-up lands them
        self.extra = []
        for j in range(self.EXTRA_BATCHES):
            a = main_end + (n - main_end) * j // self.EXTRA_BATCHES
            b = main_end + (n - main_end) * (j + 1) // self.EXTRA_BATCHES
            name = f"part-{j + 1:03d}.parquet"
            self.feed.write(os.path.join(self.root, "staged", name), a, b, 1e9 + j + 1)
            self.extra.append(name)

    # -- set-up ------------------------------------------------------------
    def setup(self, spark) -> None:
        from audit_star_spark.catalog import EngineConfig, TableSpec, pg_type_to_spark
        from audit_star_spark.plans.logstore import compact_log
        from audit_star_spark.provision import AuditStar

        self.spark = spark
        self.spec = TableSpec(
            "app", "users", [(c, pg_type_to_spark(t)) for c, t in gen.COLUMNS], gen.PK
        )
        cfg = EngineConfig(
            log_root=os.path.join(self.root, "logs"),
            checkpoint_root=os.path.join(self.root, "checkpoints"),
        )
        self.log_dir = os.path.join(cfg.log_root, "app", "users")
        self.star = AuditStar(spark, cfg)
        report = self.star.provision([self.spec], feeds={self.spec.fqn: self.src})
        if report.errors or report.audited != [self.spec.fqn]:
            raise RuntimeError(f"provision failed: {report}")
        compact_log(spark, self.log_dir)
        ingest = self.star.ingests[self.spec.fqn]
        for name in self.extra:
            os.replace(os.path.join(self.root, "staged", name), os.path.join(self.src, name))
            with self._span("ingest.stream"):
                ingest.start(available_now=True).awaitTermination()
        # warm-up outside the measured loop: each view's lookup plan once,
        # on hot keys so the JIT also compiles the long reconstruction frames
        for view in VIEWS:
            self._run("hot", view, self.rng.choice(self.feed.hot_keys))
        self.results.clear()
        self.rows_read.clear()

    # -- the measured loop -----------------------------------------------
    @property
    def items(self) -> int:
        """Queries answered."""
        return len(self.results)

    @property
    def round_complete(self) -> bool:
        return not self.queue

    def step(self) -> tuple[str, float]:
        if not self.queue:
            ops = []
            for kind, view in self.ROUND:
                if kind == "hot":
                    view = VIEWS[self.hot_turn % len(VIEWS)]
                    self.hot_turn += 1
                elif kind == "scan":
                    view = VIEWS[self.round % len(VIEWS)]
                ops.append((kind, view))
            self.rng.shuffle(ops)
            self.queue = ops
            self.round += 1
        kind, view = self.queue.pop(0)
        key = self.rng.choice(self.feed.hot_keys if kind == "hot" else self.feed.cold_keys)
        return kind, self._run(kind, view, key)

    def _span(self, name: str):
        return nullcontext() if self.tracer is None else self.tracer.span(name)

    def _run(self, kind: str, view: str, key: str) -> float:
        t0 = time.perf_counter()
        with self._span(QUERY_SPANS[kind]):
            rows, view, arg, q = self._query(kind, view, key)
        elapsed = time.perf_counter() - t0
        if self.tracer is not None and kind in ("cold", "hot"):
            self.rows_read.append(_log_rows_scanned(q, self.log_dir))
        self.results.append((kind, view, arg, rows))
        return elapsed

    def _query(self, kind: str, view: str, key: str):
        if kind == "asof":
            view = "snapshot"
        df = self.star.read_view(_view_name(view))
        if kind in ("cold", "hot"):
            q = _as_text(df.filter(F.col("primary_key") == key))
            rows = q.collect()
            arg = key
        elif kind == "asof":
            event_id = self.rng.randrange(len(self.feed.events) // 4, len(self.feed.events))
            at = gen.event_time(event_id).replace(tzinfo=None)
            w = Window.partitionBy("primary_key").orderBy(F.col("audit_id").desc())
            q = _as_text(
                df.filter(F.col("audited_changed_at") <= F.lit(at))
                .withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__rn")
            )
            rows = q.collect()
            arg = event_id
        else:
            q = df
            q.write.format("noop").mode("overwrite").save()
            rows, arg = [], None
        return rows, view, arg, q

    # -- checks ------------------------------------------------------------
    def check(self) -> int:
        """Number of queries whose rows differ from the generator's record.
        Scans write to the noop sink and are not checked."""
        doubles = {c for c, t in gen.COLUMNS if t == "double precision"}
        dcols = doubles | {f"{p}_{c}" for c in doubles for p in ("old", "new")}
        cache: dict[tuple[str, str], dict] = {}

        def expected(key, view):
            if (key, view) not in cache:
                cache[(key, view)] = self.feed.expected_rows(key, view)
            return cache[(key, view)]

        events = {gen.ts_text(e.event_id): e for e in self.feed.events}
        bad = 0
        for kind, view, arg, rows in self.results:
            if kind == "scan":
                continue
            if kind in ("cold", "hot"):
                want = {k: _with_updated_by(r, view) for k, r in expected(arg, view).items()}
            else:
                want = {}
                for key, idx in self.feed.history.items():
                    last = [i for i in idx if i < arg]
                    if last:
                        ts = gen.ts_text(last[-1] + 1)
                        want[ts] = _with_updated_by(expected(key, "snapshot")[ts], view)
            got = {}
            ok = len(rows) == len(want)
            for r in rows:
                d = r.asDict()
                ts = d.pop("audited_changed_at")
                ev = events.get(ts)
                ok = ok and ev is not None and (d["primary_key"], d["audited_operation"]) == (ev.key, ev.op)
                for c in ("audit_id", "primary_key", "audited_operation",
                          "audited_db_user", "audited_change_agent"):
                    d.pop(c)
                got[ts] = d
            ok = ok and got.keys() == want.keys() and all(
                _rows_match(got[ts], want[ts], dcols) for ts in want
            )
            bad += not ok
        return bad

    def layer_counts(self) -> dict[str, float]:
        files = [
            os.path.join(d, f)
            for d, _, fs in os.walk(self.log_dir)
            if "_state" not in d
            for f in fs
            if f.endswith(".parquet")
        ]
        state_dir = os.path.join(self.log_dir, "_state")
        state_bytes = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(state_dir)
            for f in fs
            if f.endswith(".parquet")
        )
        log_bytes = sum(os.path.getsize(f) for f in files)
        return {
            "logstore.files": len(files),
            "logstore.bytes_per_event": log_bytes / len(self.feed.events),
            "state.bytes": state_bytes,
            "reconstruct.rows_read_per_lookup": (
                sum(self.rows_read) / len(self.rows_read) if self.rows_read else 0.0
            ),
        }


def _with_updated_by(row: dict, view: str) -> dict:
    """Provisioning adds ``updated_by`` to every audited table; the feed
    never sets it, so the views read NULL there."""
    out = dict(row)
    if view == "snapshot":
        out["updated_by"] = None
    else:
        out["old_updated_by"] = None
        out["new_updated_by"] = None
    return out


def _log_rows_scanned(df, log_dir: str) -> int:
    """Rows the executed plan read from the audit log's parquet files (the
    ``numOutputRows`` of each log scan node; the state-snapshot scan of
    the live side is not counted)."""
    total = 0
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
        elif cls.endswith("QueryStageExec"):
            stack.append(node.plan())
        elif cls == "FileSourceScanExec":
            roots = node.relation().location().rootPaths()
            paths = [roots.apply(i).toString() for i in range(roots.size())]
            if any(log_dir in p and "_state" not in p for p in paths):
                total += node.metrics().apply("numOutputRows").value()
        else:
            children = node.children()
            stack.extend(children.apply(i) for i in range(children.size()))
    return total


class CorpusClean:
    """The corpus cleaning pipeline over seeded shards with planted exact
    duplicates, near duplicates and low-quality documents; passes
    alternate between small plain shards and large shards that also hold
    one big near-duplicate cluster."""

    PLAIN_DOCS = 200
    LARGE_DOCS = 1000
    HOT_CLUSTER = 400  # near copies of one document in each large shard
    SHARDS = 2  # per kind; longer runs cycle through them
    WARMUP_DOCS = 20

    def __init__(self, root: str, seed: int, tracer=None):
        self.root = root
        self.seed = seed
        self.tracer = tracer
        self.passes = 0  # pipeline calls so far, warm-up included
        self.results: list[tuple[gen.Corpus, dict]] = []

    def generate(self) -> None:
        self.shards: list[tuple[str, str, gen.Corpus]] = []
        for i in range(self.SHARDS):
            for kind, n, hot in (
                ("plain", self.PLAIN_DOCS, 0),
                ("large", self.LARGE_DOCS, self.HOT_CLUSTER),
            ):
                c = gen.make_corpus(f"corpus_clean:{self.seed}:{kind}:{i}", n, hot_cluster=hot)
                path = os.path.join(self.root, "docs", f"{kind}-{i}.parquet")
                c.write(path)
                self.shards.append((kind, path, c))
        self.warmup = gen.make_corpus(f"corpus_clean:{self.seed}:warmup", self.WARMUP_DOCS)
        self.warmup_path = os.path.join(self.root, "docs", "warmup.parquet")
        self.warmup.write(self.warmup_path)

    def setup(self, spark) -> None:
        self.spark = spark
        self._pass(self.warmup_path, self.warmup)
        self.results.clear()

    def step(self) -> tuple[str, float]:
        kind, path, corpus = self.shards[len(self.results) % len(self.shards)]
        t0 = time.perf_counter()
        self._pass(path, corpus)
        return kind, time.perf_counter() - t0

    @property
    def items(self) -> int:
        """Documents cleaned."""
        return sum(len(c.docs) for c, _ in self.results)

    @property
    def round_complete(self) -> bool:
        """A round is one plain and one large shard."""
        return len(self.results) % 2 == 0

    def _pass(self, path: str, corpus: gen.Corpus) -> None:
        out = os.path.join(self.root, "out", str(self.passes))
        self.passes += 1
        if self.tracer is None:
            from audit_star_spark.pipeline import run_corpus_pipeline

            stats = run_corpus_pipeline(self.spark, path, out)
        else:
            stats = staged_pipeline(self.spark, path, out, self.tracer)
        self.results.append((corpus, stats))

    def check(self) -> int:
        """Passes whose stage counts contradict the planted structure: the
        gate keeps exactly the well-formed documents, exact dedup keeps
        one per planted set, near dedup removes at most the planted near
        copies."""
        bad = 0
        for c, s in self.results:
            n_near = sum(len(v) for v in c.near_dups.values())
            ok = (
                s["n_input"] == len(c.docs)
                and s["n_after_quality"] == c.expected_after_quality
                and s["n_after_exact_dedup"] == c.expected_after_exact
                and c.expected_after_exact - n_near
                <= s["n_after_near_dedup"]
                <= c.expected_after_exact
            )
            bad += not ok
        return bad

    def layer_counts(self) -> dict[str, float]:
        n = sum(len(c.docs) for c, _ in self.results) or 1
        q = sum(s["n_after_quality"] for _, s in self.results)
        e = sum(s["n_after_exact_dedup"] for _, s in self.results)
        nd = sum(s["n_after_near_dedup"] for _, s in self.results)
        planted = sum(sum(len(v) for v in c.near_dups.values()) for c, _ in self.results)
        return {
            "quality.keep_ratio": q / n,
            "dedup.exact_keep_ratio": e / q if q else 0.0,
            "dedup.near_keep_ratio": nd / e if e else 0.0,
            "dedup.near_recall": (e - nd) / planted if planted else 0.0,
        }


def staged_pipeline(spark, in_path: str, out_dir: str, tracer) -> dict:
    """``pipeline.run_corpus_pipeline`` with its default stages called one
    by one, each materialized inside its own span, so the traced run can
    attribute time per analytics layer. Stage order and operators are the
    pipeline's."""
    from audit_star_spark.analytics.dedup import dedup_clusters, exact_dedup, minhash_lsh_pairs
    from audit_star_spark.analytics.quality import gopher_quality_flags
    from audit_star_spark.analytics.text import chunk_documents, sequence_packing
    from audit_star_spark.sources.corpus_io import export_jsonl

    docs = spark.read.parquet(in_path)
    stats = {"n_input": docs.count()}
    with tracer.span("quality.gate"):
        flags = gopher_quality_flags(docs).select("doc_id", "keep").persist()
        gated = docs.join(flags.filter(F.col("keep")).select("doc_id"), "doc_id").persist()
        stats["n_after_quality"] = gated.count()
        flags.unpersist()
    with tracer.span("dedup.exact"):
        canon = exact_dedup(gated).select(F.col("canonical_doc_id").alias("doc_id"))
        exact = gated.join(canon, "doc_id").persist()
        stats["n_after_exact_dedup"] = exact.count()
        gated.unpersist()
    with tracer.span("dedup.near"):
        clusters = dedup_clusters(minhash_lsh_pairs(exact, threshold=0.7))
        drop = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
        clean = exact.join(drop, "doc_id", "left_anti").persist()
        stats["n_after_near_dedup"] = clean.count()
        exact.unpersist()
    with tracer.span("text.layout"):
        chunks = os.path.join(out_dir, "chunks.parquet")
        chunk_documents(clean, chunk_tokens=64, overlap=8).write.mode("overwrite").parquet(chunks)
        stats["n_chunks"] = spark.read.parquet(chunks).count()
        sequence_packing(clean, budget_tokens=256).write.mode("overwrite").parquet(
            os.path.join(out_dir, "packing.parquet")
        )
    with tracer.span("corpus_io.export"):
        export_jsonl(clean, os.path.join(out_dir, "clean_jsonl"))
    clean.unpersist()
    return stats


WORKLOADS = {"temporal_query": TemporalQuery, "corpus_clean": CorpusClean}
