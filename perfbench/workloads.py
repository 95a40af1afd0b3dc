"""The benchmark's workloads.

Every call into the package is wrapped in a tracer span named after the
package module it reaches; with tracing off the spans cost nothing.
Sizes are set in ``SIZES`` (timed runs) and ``SMOKE`` (the benchmark's
own tests); README.md says why each workload exists and
why it has its size.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import time
from dataclasses import dataclass, field

import gen

SIZES = {
    "journey_batch": dict(files=6, chats_per_file=4, messages=6_000, cap=1_500),
    "ingest_incremental": dict(base=2_000, chats=8, batches=4, batch_new=250),
    "corpus_curation": dict(docs=2_000),
}
SMOKE = {
    "journey_batch": dict(files=2, chats_per_file=2, messages=400, cap=200),
    "ingest_incremental": dict(base=300, chats=3, batches=2, batch_new=40),
    "corpus_curation": dict(docs=300),
}


@dataclass
class PassResult:
    rows: int = 0  # input rows this pass consumed
    attempted: int = 0  # operations, including ones skipped after a failure
    latencies: list[float] = field(default_factory=list)  # seconds per operation run
    failures: list[str] = field(default_factory=list)  # one entry per failed operation
    extra: dict[str, float] = field(default_factory=dict)  # per-layer counters


class Ops:
    """Times operations and records failures: an operation fails when
    it raises, when its check returns a problem, or when it cannot run
    because an operation it depends on failed."""

    def __init__(self, rows: int = 0):
        self.result = PassResult(rows)

    def run(self, name: str, fn, check=None):
        self.result.attempted += 1
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception as e:  # noqa: BLE001 - a failed operation is a result
            self.result.latencies.append(time.perf_counter() - t0)
            self.result.failures.append(f"{name}: raised {type(e).__name__}: {str(e)[:300]}")
            return None
        self.result.latencies.append(time.perf_counter() - t0)
        problem = check(out) if check is not None else None
        if problem:
            self.result.failures.append(f"{name}: {problem}")
        return out

    def skip(self, names: list[str]) -> PassResult:
        self.result.attempted += len(names)
        self.result.failures += [f"{n}: not run, an earlier operation failed" for n in names]
        return self.result


def _count_keys(df, keys: list[str]):
    """One row: ``n`` rows of ``df`` and ``d`` distinct ``keys``."""
    from pyspark.sql import functions as F

    return df.agg(F.count(F.lit(1)).alias("n"), F.count_distinct(*keys).alias("d")).first()


def _key_problem(r, want: int) -> str | None:
    """None when a ``_count_keys`` row shows exactly ``want`` keys, one row each."""
    if r["n"] != r["d"]:
        return f"{r['n']} rows for {r['d']} distinct keys"
    return None if r["d"] == want else f"{r['d']} distinct keys, expected {want}"


def _diff_counts(got: dict, want: dict) -> str | None:
    if got == want:
        return None
    bad = sorted(k for k in set(got) | set(want) if got.get(k) != want.get(k))
    return f"{len(bad)} keys differ, e.g. {bad[0]}: got {got.get(bad[0])}, want {want.get(bad[0])}"


class Workload:
    """Common shape: inputs are generated on construction from ``seed``;
    ``setup`` builds the state the timed passes read; ``warm`` runs every
    timed code path once, untimed (compile-warm: JIT, codegen, Python
    workers); ``run_pass`` is one timed, checked unit of work, with
    untimed ``prepare`` before it and ``finish`` after it."""

    name = ""

    def __init__(self, spark, tracer, workdir: str, seed, size: dict):
        self.spark, self.tr, self.dir, self.seed = spark, tracer, workdir, seed
        self.rng = random.Random(seed)
        self.n = 0

    def setup(self) -> None:
        pass

    def warm(self) -> list[str]:
        """One full pass over the same inputs, untimed; its failures.
        Full size, because after a smoke-size warm pass the first timed
        journey pass ran 11-23% slower than the next."""
        self.prepare()
        result = self.run_pass()
        self.finish(result)
        return result.failures

    def prepare(self) -> None:
        pass

    def run_pass(self) -> PassResult:
        raise NotImplementedError

    def finish(self, result: PassResult) -> None:
        pass


# ------------------------------------------------------------------ journey

# serving tool -> the package module doing its work
TOOL_LAYER = {
    "text_search": "search",
    "hybrid_search": "search",
    "vector_search": "vector",
    "cluster_search": "vector",
    "get_cluster": "serving",
    "random_large_cluster": "serving",
}
_ANALYTICS = ["get_chats_list", "get_user_stats", "find_long_message_groups",
              "get_large_clusters", "analyze_word_quantiles"]


class JourneyBatch(Workload):
    """The paper's journey as one flow: parse tenant exports, write the
    message store, embed, cluster, run the analyst's stats queries,
    then one call of each serving tool over the fresh store."""

    name = "journey_batch"

    def __init__(self, spark, tracer, workdir, seed, size):
        super().__init__(spark, tracer, workdir, seed, size)
        rng = self.rng
        self.input = gen.journey_input(
            rng, workdir, size["files"], size["messages"], size["chats_per_file"], size["cap"]
        )
        self.user = rng.choice(self.input.messages).from_id
        self.user_counts: dict[int, int] = {}
        for m in self.input.messages:
            if m.from_id == self.user:
                self.user_counts[m.chat_id] = self.user_counts.get(m.chat_id, 0) + 1
        self.keys = [(m.chat_id, m.message_id) for m in self.input.messages]
        self.vecs = gen.hash_embed([m.text for m in self.input.messages])

    def run_pass(self) -> PassResult:
        from pyspark.sql import functions as F
        from terrorblade_spark.api import TerrorbladeSpark
        from terrorblade_spark.functions.embed import embed_text
        from terrorblade_spark.serving import ToolDispatcher
        from terrorblade_spark.sources.telegram_json import load_telegram_export

        spark, tr, truth = self.spark, self.tr, self.input
        self.n += 1
        out = f"{self.dir}/pass{self.n}"
        ops = Ops(len(truth.messages))
        later = ["embed_text", "compute_clusters", *_ANALYTICS, *TOOL_LAYER]

        def load():
            with tr.span("sources", "load_telegram_export"):
                df = load_telegram_export(spark, truth.files)
            with tr.span("sources", "load_telegram_export", "action"):
                df.write.parquet(f"{out}/messages")
            return spark.read.parquet(f"{out}/messages")

        msgs = ops.run("load_telegram_export", load)
        if msgs is None:
            return ops.skip(later)

        def embed():
            with tr.span("embed", "embed_text"):
                emb = msgs.select("chat_id", "message_id", embed_text()(F.col("text")).alias("embeddings"))
            with tr.span("embed", "embed_text", "action"):
                emb.write.parquet(f"{out}/embeddings")
            return spark.read.parquet(f"{out}/embeddings")

        emb = ops.run("embed_text", embed)
        if emb is None:
            return ops.skip(later[1:])
        tb = TerrorbladeSpark(spark, msgs, emb)

        def cluster():
            with tr.span("semantic", "compute_clusters"):
                tb.compute_clusters()
            with tr.span("semantic", "compute_clusters", "action"):
                tb.clusters.write.parquet(f"{out}/clusters")
            return spark.read.parquet(f"{out}/clusters")

        def one_cluster_row_per_message(df):
            with tr.span("bench", "check_clusters"):
                return _key_problem(_count_keys(df, ["chat_id", "message_id"]), len(truth.messages))

        clusters = ops.run("compute_clusters", cluster, one_cluster_row_per_message)
        if clusters is None:
            return ops.skip(later[2:])
        tb.clusters = clusters

        def query(name, build):
            def go():
                with tr.span("analytics", name):
                    df = build()
                with tr.span("analytics", name, "action"):
                    return df.collect()
            return go

        def count_long(rows):
            return None if len(rows) == truth.long_groups else (
                f"{len(rows)} long groups, expected {truth.long_groups}")

        def count_quantiles(rows):
            return None if rows[0]["n_messages"] == len(truth.messages) else (
                f"quantiles over {rows[0]['n_messages']} messages")

        ops.run("get_chats_list", query("get_chats_list", tb.get_chats_list),
                lambda rows: _diff_counts({r["chat_id"]: r["n_messages"] for r in rows},
                                          truth.chat_counts))
        ops.run("get_user_stats", query("get_user_stats", lambda: tb.get_user_stats(self.user)),
                lambda rows: _diff_counts({r["chat_id"]: r["n_messages"] for r in rows},
                                          self.user_counts))
        ops.run("find_long_message_groups",
                query("find_long_message_groups", tb.find_long_message_groups), count_long)
        large = ops.run("get_large_clusters", query("get_large_clusters", tb.get_large_clusters),
                        lambda rows: None if rows and all(r["n_messages"] >= 5 for r in rows)
                        else "no cluster of 5+ messages, or one below the minimum")
        ops.run("analyze_word_quantiles",
                query("analyze_word_quantiles", tb.analyze_word_quantiles), count_quantiles)
        if not large:
            return ops.skip(list(TOOL_LAYER))

        with tr.span("bench", "grouped_messages"):
            grouped = {(r["chat_id"], r["message_id"])
                       for r in clusters.where("group_id IS NOT NULL").select("chat_id", "message_id").collect()}
        sizes = {(r["chat_id"], r["group_id"]): r["n_messages"] for r in large}
        tools = ToolDispatcher(tb)
        for tool in TOOL_LAYER:
            kw = self._tool_args(tool, sizes)

            def call(tool=tool, kw=kw):
                with tr.span(TOOL_LAYER[tool], tool):
                    return tools.call(tool, **kw)

            ops.run(tool, call, lambda res, tool=tool, kw=kw: self._check_tool(tool, kw, res, sizes, grouped))
        return ops.result

    def _tool_args(self, tool: str, sizes: dict) -> dict:
        rng = self.rng
        if tool in ("text_search", "hybrid_search"):
            return {"query": rng.choice(sorted(self.input.planted)), "top_k": 10}
        if tool in ("vector_search", "cluster_search"):
            return {"query": " ".join(gen.zipf_words(rng, 3)), "top_k": 20}
        if tool == "get_cluster":
            c, g = rng.choice(sorted(sizes))
            return {"chat_id": c, "group_id": g}
        return {"min_size": 5, "seed": f"s{rng.randrange(10**6)}"}

    def _check_tool(self, tool: str, kw: dict, out, sizes: dict, grouped: set) -> str | None:
        if tool in ("text_search", "hybrid_search"):
            got = {(r["chat_id"], r["message_id"]) for r in out}
            want = self.input.planted[kw["query"]]
            # BM25 returns exactly the planted messages; fusion keeps them in its top-k
            ok = got == want if tool == "text_search" else want <= got
            return None if ok else f"{len(got & want)}/{len(want)} planted hits for {kw['query']}"
        if tool in ("vector_search", "cluster_search"):
            sims = self.vecs @ gen.hash_embed([kw["query"]])[0]
            if tool == "vector_search":
                want = float(sims.max())
                got = out["results"][0]["cosine_sim"] if out["results"] else None
            else:
                # the tool ranks clusters among the global top_k hits
                top = sorted(range(len(sims)), key=lambda i: (-sims[i], self.keys[i]))[: kw["top_k"]]
                hits = [float(sims[i]) for i in top if self.keys[i] in grouped]
                want = max(hits) if hits else None
                got = out[0]["best_similarity"] if out else None
                if want is None or got is None:
                    return None if want is got else f"best cluster cosine {got}, brute force {want}"
            return None if got is not None and abs(got - want) < 1e-5 else (
                f"top-1 cosine {got}, brute force {want}")
        if tool == "get_cluster":
            want = sizes[(kw["chat_id"], kw["group_id"])]
            ok = len(out) == want and all(r["chat_id"] == kw["chat_id"] for r in out)
            return None if ok else f"{len(out)} rows, cluster has {want}"
        keys = {(r["chat_id"], r["group_id"]) for r in out}
        if len(keys) != 1:
            return f"{len(keys)} clusters returned"
        (key,) = keys
        return None if len(out) == sizes.get(key) else f"{len(out)} rows, cluster has {sizes.get(key)}"


# ------------------------------------------------------------------- ingest


class IngestIncremental(Workload):
    """Delivery batches merged into a transactional message table."""

    name = "ingest_incremental"
    keys = ["chat_id", "message_id"]

    def __init__(self, spark, tracer, workdir, seed, size):
        super().__init__(spark, tracer, workdir, seed, size)
        self.input = gen.ingest_input(self.rng, workdir, size["base"], size["chats"],
                                      size["batches"], size["batch_new"])

    def _embedded(self, path: str):
        """Parse and embed one export file. Each step is materialized
        (cached) by the benchmark, so the merge measures the table."""
        from pyspark.sql import functions as F
        from terrorblade_spark.functions.embed import embed_text
        from terrorblade_spark.sources.telegram_json import load_telegram_export

        tr = self.tr
        with tr.span("sources", "load_telegram_export"):
            df = load_telegram_export(self.spark, path, min_messages=1)
        with tr.span("sources", "load_telegram_export", "action"):
            df = df.persist()
            df.count()
        with tr.span("embed", "embed_text"):
            emb = df.withColumn("embeddings", embed_text()(F.col("text")))
        with tr.span("embed", "embed_text", "action"):
            emb = emb.persist()
            n = emb.count()
        df.unpersist()
        return emb, n

    def setup(self):
        from terrorblade_spark.txn import TxnTable

        self.base = TxnTable(f"{self.dir}/base")
        emb, _ = self._embedded(self.input.base_file)
        self.base.merge_upsert(emb, self.keys)
        emb.unpersist()

    def prepare(self):
        """A fresh copy of the base table for the next pass. Its manifests
        name the base table's data files by absolute path, so the copy
        leaves the data out."""
        from terrorblade_spark.txn import TxnTable

        self.n += 1
        path = f"{self.dir}/table{self.n}"
        shutil.copytree(self.base.path, path, ignore=shutil.ignore_patterns("data"))
        self.table = TxnTable(path)
        self.before = _tree(path)

    def _batch(self, path: str, delivered: int, want: int, ops: Ops) -> None:
        def go():
            emb, loaded = self._embedded(path)
            with self.tr.span("txn", "merge_upsert"):
                self.table.merge_upsert(emb, self.keys)
            emb.unpersist()
            with self.tr.span("txn", "read"):
                snap = self.table.read(self.spark)
            with self.tr.span("txn", "read", "action"):
                return loaded, _count_keys(snap, self.keys)

        def check(out):
            loaded, r = out
            if loaded != delivered:
                return f"loader returned {loaded} rows, {delivered} delivered"
            return _key_problem(r, want)

        ops.result.rows += delivered
        ops.run("delivery_batch", go, check)

    def run_pass(self) -> PassResult:
        """All delivery batches, into the copy ``prepare`` made."""
        ops = Ops()
        truth = self.input
        for i, f in enumerate(truth.batch_files):
            self._batch(f, truth.delivered[i], truth.distinct_after[i + 1], ops)
        return ops.result

    def finish(self, result: PassResult) -> None:
        written = {p: s for p, s in _tree(self.table.path).items() if p not in self.before}
        entries = self.table.latest().entries
        live_rows = sum(e["rows"] for e in entries)
        live_bytes = sum(sum(_tree(e["path"]).values()) for e in entries)
        new_rows = self.input.distinct_after[-1] - self.input.distinct_after[0]
        result.extra = {
            "txn.write_amp": sum(written.values()) / (live_bytes / live_rows * new_rows),
            "txn.files": float(sum(1 for p in written if p.endswith(".parquet"))),
        }


def _tree(root: str) -> dict[str, int]:
    """Every file under ``root`` with its size in bytes."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            out[p] = os.path.getsize(p)
    return out


# ------------------------------------------------------------------- corpus


class CorpusCuration(Workload):
    """CorpusPipeline curate -> dedup -> split -> chunk_and_pack -> export
    over documents with planted exact clones and near-duplicates."""

    name = "corpus_curation"

    def __init__(self, spark, tracer, workdir, seed, size):
        super().__init__(spark, tracer, workdir, seed, size)
        self.input = gen.corpus_input(self.rng, size["docs"])
        self.path = f"{workdir}/docs.jsonl"
        with open(self.path, "w") as fh:
            for i, t in self.input.docs:
                fh.write(json.dumps({"doc_id": i, "text": t}) + "\n")

    def run_pass(self) -> PassResult:
        from pyspark.sql import functions as F
        from terrorblade_spark.corpus import CorpusPipeline

        spark, tr, truth = self.spark, self.tr, self.input
        self.n += 1
        out = f"{self.dir}/pass{self.n}"
        ops = Ops(len(truth.docs))
        docs = spark.read.schema("doc_id long, text string").json(self.path)
        pipe = CorpusPipeline(spark, docs)

        def stage(layer, name, build, write_to=None):
            def go():
                with tr.span(layer, name):
                    df = build()
                if write_to is None:
                    return df
                with tr.span(layer, name, "action"):
                    df.write.parquet(f"{out}/{write_to}")
                return spark.read.parquet(f"{out}/{write_to}")
            return go

        curated = ops.run("curate", stage("curation", "curate", pipe.curate, "curated"))
        if curated is None:
            return ops.skip(["dedup", "split", "chunk_and_pack", "export"])
        kept = curated.where("keep").select("doc_id", "text")
        deduped = ops.run("dedup", stage("dedup", "dedup", lambda: pipe.dedup(kept), "deduped"),
                          lambda df: self._check_dedup(df, ops.result))
        if deduped is None:
            return ops.skip(["split", "chunk_and_pack", "export"])
        split = ops.run("split", stage("sampling", "split", lambda: pipe.split(deduped), "split"),
                        self._check_split)
        if split is None:
            return ops.skip(["chunk_and_pack", "export"])
        canon = split.where(~F.col("is_duplicate"))
        ops.run("chunk_and_pack",
                stage("packing", "chunk_and_pack",
                      lambda: pipe.chunk_and_pack(canon.where("split = 'train'")), "packed"),
                lambda df: None if df.count() > 0 else "no packed sequences")

        def exported(manifest):
            n = manifest.agg(F.sum("n_rows")).first()[0]
            want = self.n_canonical
            return None if n == want else f"{n} exported rows, {want} canonical documents"

        ops.run("export", stage("io", "export", lambda: pipe.export(
            canon.select("doc_id", "text", "split"), f"{out}/export")), exported)
        return ops.result

    def _check_dedup(self, df, result: PassResult) -> str | None:
        """Every planted exact clone that survived curation shares its
        original's canonical_id; the share of all planted copies that do
        is reported as ``dedup.flagged_frac``. Also counts the canonical
        documents (their own canonical_id), which the export must hold."""
        with self.tr.span("bench", "check_dedup"):
            rows = {r["doc_id"]: r["canonical_id"]
                    for r in df.select("doc_id", "canonical_id").collect()}
        self.n_canonical = sum(d == c for d, c in rows.items())
        truth = self.input
        pairs = [(c, s) for c, s in {**truth.clones, **truth.near}.items() if c in rows and s in rows]
        result.extra["dedup.flagged_frac"] = (
            sum(rows[c] == rows[s] for c, s in pairs) / len(pairs) if pairs else 0.0)
        missed = [c for c, s in truth.clones.items() if c in rows and s in rows and rows[c] != rows[s]]
        return f"{len(missed)} exact clones not flagged" if missed else None

    def _check_split(self, df) -> str | None:
        from pyspark.sql import functions as F

        with self.tr.span("bench", "check_split"):
            straddle = (df.groupBy("canonical_id").agg(F.count_distinct("split").alias("n"))
                        .where("n > 1").count())
        return f"{straddle} canonical_ids straddle train and eval" if straddle else None


WORKLOADS = {w.name: w for w in (JourneyBatch, IngestIncremental, CorpusCuration)}
