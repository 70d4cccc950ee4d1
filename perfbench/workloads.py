"""The benchmark's three workloads: link_batch, link_staged, delta_ingest.

Each workload calls the library's public functions, materialises each
layer's output, and checks the outputs outside the timed region. A check
that fails is recorded, not raised, so it counts toward the error rate.

Inputs come from ``synthesize_documents(seed=...)``, are written to parquet
during set-up and read back, so every timed pass reads only files.
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pprl_spark.config import EmbedderConfig
from pprl_spark.operators.blocking import add_block_keys, explode_blocks
from pprl_spark.operators.candidates import generate_candidates
from pprl_spark.operators.cluster import clusters_from_matches
from pprl_spark.operators.embedding import embed_documents
from pprl_spark.operators.matching import mutual_best_match
from pprl_spark.plans.pipeline import ParquetStageIO, run_linkage
from pprl_spark.sources.synthetic import labeled_pairs, synthesize_documents
from pprl_spark.streaming.incremental import delta_candidates, delta_match

KEEP = ["doc_id", "true_id", "given_name", "surname", "date_of_birth", "sex", "address", "postcode"]

# Sizes, chosen so that one benchmark run (set-up, warm-up and several
# measured passes) fits the run budget on a 4-core host while each workload
# keeps the property it exists for (see BENCHMARK.json).
LINK_BATCH_N = 1000  # docs per side
LINK_STAGED_N = 1000  # docs per side
DELTA_CORPUS_N = 1500  # docs per side before the held-out pool is removed
DELTA_BATCH = 250  # held-out B docs per probe batch
DELTA_POOL_BATCHES = 4  # distinct probe batches, cycled


class Checks:
    """Output checks of one unit: a failed check is recorded, not raised."""

    def __init__(self) -> None:
        self.failures: list[str] = []

    def expect(self, ok: bool, what: str) -> None:
        if not ok:
            self.failures.append(what)


def materialise(df: DataFrame) -> DataFrame:
    return df.localCheckpoint(eager=True)


def pair_rows_unique(df: DataFrame) -> bool:
    """One row per (id1, id2): count == distinct count."""
    r = df.agg(F.count("*").alias("n"), F.countDistinct("id1", "id2").alias("d")).first()
    return r["n"] == r["d"]


def one_to_one(pairs: list[tuple[str, str]], self_linkage: bool) -> bool:
    if self_linkage:
        ends = [x for p in pairs for x in p]
        return len(ends) == len(set(ends))
    return len({a for a, _ in pairs}) == len(pairs) == len({b for _, b in pairs})


def pairwise_f1(found: set[tuple[str, str]], truth: set[tuple[str, str]]) -> float:
    tp = len(found & truth)
    if tp == 0:
        return 0.0
    p, r = tp / len(found), tp / len(truth)
    return 2 * p * r / (p + r)


def join_path(df: DataFrame) -> str:
    """Pair-join strategy in ``df``'s physical plan (final once executed):
    "broadcast", "merge", or both joined by "+" when a union holds both."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    found = []
    for node, name in (("BroadcastHashJoin", "broadcast"), ("SortMergeJoin", "merge")):
        if any(node in line and " Inner" in line for line in plan.splitlines()):
            found.append(name)
    return "+".join(found) or "none"


def collect_pairs(df: DataFrame) -> list[tuple[str, str]]:
    return [(r["id1"], r["id2"]) for r in df.select("id1", "id2").collect()]


class Workload:
    """Set-up state plus one repeatable unit of work (a pass or a batch)."""

    n: int  # docs per side
    docs_per_unit: int
    warmup_units = 1  # untimed units before measuring: JIT and codegen caches
    min_units = 2  # measured units, at least; more while --seconds last

    def __init__(self, spark, workdir: str, seed: int, tracer):
        self.spark = spark
        self.workdir = workdir
        self.seed = seed
        self.tracer = tracer
        self.f1_values: list[float] = []
        self.join_path = ""
        # traced runs only, keyed by unit: per-layer output rows and counts
        self.layer_rows: dict[int, dict[str, float]] = {}

    def prepare_inputs(self, rep: int) -> None:
        """Generate both parties' documents, write them and read them back."""
        docs = []
        for source in ("A", "B"):
            path = os.path.join(self.workdir, f"inputs{rep}", source)
            synthesize_documents(self.spark, self.n, source, seed=self.seed) \
                .write.mode("overwrite").parquet(path)
            docs.append(self.spark.read.parquet(path))
        self.docs_a, self.docs_b = docs

    def build_state(self) -> None:
        """Standing state the units share: at least the true pairs."""
        self.truth = set(collect_pairs(labeled_pairs(self.docs_a, self.docs_b)))

    def unit(self, i: int):
        """Run one timed unit; returns what :meth:`check` needs."""
        raise NotImplementedError

    def check(self, i: int, out, checks: Checks) -> None:
        raise NotImplementedError

    def final_check(self, checks: Checks) -> None:
        """Once per run, after the measured units."""


class LinkBatch(Workload):
    """embed -> block -> candidates -> match -> cluster, each materialised."""

    n = LINK_BATCH_N
    docs_per_unit = 2 * LINK_BATCH_N
    cfg = EmbedderConfig(abs_cutoff=0.3)

    def unit(self, i: int):
        cfg, span = self.cfg, self.tracer.span
        with span("embedding"):
            ea = materialise(embed_documents(self.docs_a, cfg, keep=KEEP))
            eb = materialise(embed_documents(self.docs_b, cfg, keep=KEEP))
        with span("blocking"):
            ba = materialise(explode_blocks(add_block_keys(ea, cfg), include_indices=False))
            bb = materialise(explode_blocks(add_block_keys(eb, cfg), include_indices=False))
        with span("candidates"):
            cand_df = generate_candidates(ba, bb, cfg, min_sim=cfg.abs_cutoff)
            cand = materialise(cand_df)
        with span("matching"):
            matches = materialise(mutual_best_match(cand))
        with span("cluster"):
            clusters = clusters_from_matches(matches)
            plan = clusters._jdf.queryExecution().analyzed().toString() if self.tracer.enabled else ""
            clusters = materialise(clusters)
        return {"emb": (ea, eb), "blk": (ba, bb), "cand_df": cand_df, "cand": cand,
                "matches": matches,
                "clusters": clusters, "clusters_plan": plan}

    def check(self, i: int, out, checks: Checks) -> None:
        checks.expect(pair_rows_unique(out["cand"]), "candidates: duplicate (id1,id2) rows")
        pairs = collect_pairs(out["matches"])
        checks.expect(one_to_one(pairs, self_linkage=False), "matches: not one-to-one")
        f1 = pairwise_f1(set(pairs), self.truth)
        self.f1_values.append(f1)
        checks.expect(f1 >= 0.99, f"f1 {f1:.4f} < 0.99")
        self.join_path = join_path(out["cand_df"])
        if self.tracer.enabled:
            ea, eb = out["emb"]
            ba, bb = out["blk"]
            self.layer_rows[i] = {
                "embedding": ea.count() + eb.count(),
                "blocking": ba.count() + bb.count(),
                "candidates": out["cand"].count(),
                "matching": len(pairs),
                "cluster": out["clusters"].count(),
                "cluster.edges_in": len(pairs),
                "cluster.driver_path": cluster_driver_path(out["clusters_plan"]),
            }


def cluster_driver_path(plan: str) -> int:
    """1 when connected components ran on the driver: its output is a local
    relation built from the driver's labels, with no join in the plan."""
    return int("Join" not in plan)


class LinkStaged(Workload):
    """``run_linkage`` into a fresh base dir per pass, then a resume call."""

    n = LINK_STAGED_N
    docs_per_unit = 2 * LINK_STAGED_N
    # pinned sort-merge: the shape auto-selection takes once the counted
    # build side outgrows the heap bound (15k docs/side at a 1g heap);
    # pinned so the merge path runs at a size that fits the run budget
    cfg = EmbedderConfig(abs_cutoff=0.3, pair_join_hint="merge")

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.bases: dict[int, str] = {}  # unit -> base dir
        self.resume_s = 0.0

    def _run(self, base: str):
        return run_linkage(
            self.spark, self.cfg, self.docs_a, self.docs_b, base,
            use_thresholds=True, jw_field="surname",
        )

    def unit(self, i: int):
        base = os.path.join(self.workdir, "staged", f"pass{i}")
        self.bases[i] = base
        with self.tracer.span("pipeline"):
            pipe = self._run(base)
        return {"pipe": pipe, "base": base}

    def check(self, i: int, out, checks: Checks) -> None:
        pipe, base = out["pipe"], out["base"]
        io = pipe.io
        checks.expect(not pipe.skipped, f"first run skipped stages {pipe.skipped}")
        checks.expect(pair_rows_unique(io.read(self.spark, "candidates")),
                      "candidates: duplicate (id1,id2) rows")
        pairs = collect_pairs(io.read(self.spark, "matches"))
        checks.expect(one_to_one(pairs, self_linkage=False), "matches: not one-to-one")
        self.f1_values.append(pairwise_f1(set(pairs), self.truth))
        if not self.join_path:  # re-planned from the stage tables; not executed
            blk = [io.read(self.spark, s) for s in ("block_a", "block_b")]
            self.join_path = join_path(
                generate_candidates(*blk, self.cfg, min_sim=self.cfg.abs_cutoff)
            )
        if self.tracer.enabled:
            self.layer_rows[i] = staged_rows(pipe)
            self.layer_rows[i]["pipeline.bytes_written_mb"] = du_mb(base)
        self.last = out
        self._drop_except(base)

    def final_check(self, checks: Checks) -> None:
        """Resume on the last pass's base dir: zero stages, same clusters."""
        pipe, base = self.last["pipe"], self.last["base"]
        clusters = sorted(tuple(r) for r in pipe.io.read(self.spark, "clusters").collect())
        t0 = time.perf_counter()
        with self.tracer.span("resume"):
            again = self._run(base)
        self.resume_s = time.perf_counter() - t0
        checks.expect(not again.executed, f"resume executed stages {again.executed}")
        again_clusters = sorted(
            tuple(r) for r in again.io.read(self.spark, "clusters").collect()
        )
        checks.expect(clusters == again_clusters, "resume: cluster table differs")

    def _drop_except(self, keep: str) -> None:
        """Free earlier passes' stage tables: catalog entries and files."""
        for base in self.bases.values():
            if base != keep and os.path.exists(base):
                io = ParquetStageIO(base)
                for stage in ("block_a", "block_b"):
                    self.spark.sql(f"DROP TABLE IF EXISTS {io._table_name(stage)}")
                shutil.rmtree(base)


STAGE_LAYER = {
    "embed_a": "embedding",
    "embed_b": "embedding",
    "block_a": "blocking",
    "block_b": "blocking",
    "candidates": "candidates",
    "jw_rescored": "matching",
    "thresholds_a": "matching",
    "thresholds_b": "matching",
    "matches": "matching",
    "clusters": "cluster",
}
# the stage whose row count is the layer's output
LAYER_OUTPUT_STAGES = {
    "embedding": ("embed_a", "embed_b"),
    "blocking": ("block_a", "block_b"),
    "candidates": ("candidates",),
    "matching": ("matches",),
    "cluster": ("clusters",),
}


def staged_rows(pipe) -> dict[str, float]:
    """Per-stage rows and wall seconds from the pipeline's ``_metrics`` rows."""
    rows = {
        r["stage"]: (r["rows"], r["wall"])
        for r in pipe.metrics()
        .where(F.col("run_id") == pipe.run_id)
        .groupBy("stage")
        .agg(F.sum("rows").alias("rows"), F.max("wall_secs").alias("wall"))
        .collect()
    }
    out: dict[str, float] = {}
    for layer, stages in LAYER_OUTPUT_STAGES.items():
        out[layer] = float(sum(rows.get(s, (0, 0))[0] for s in stages))
    for stage, (_, wall) in rows.items():
        out[f"wall:{stage}"] = float(wall)
    out["pipeline"] = float(sum(n for n, _ in rows.values()))
    out["cluster.edges_in"] = float(rows.get("matches", (0, 0))[0])
    return out


def du_mb(path: str) -> float:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total / 2**20


class DeltaIngest(Workload):
    """A closed loop of probe batches against one standing corpus.

    The corpus holds A and B docs minus a held-out pool of B docs; its
    self-candidate pair table is built in set-up. Each batch embeds and
    blocks 250 held-out docs, scores them against the corpus with
    ``delta_candidates`` and re-ranks the stored table plus the new pairs
    with ``delta_match``. The corpus does not grow, so every batch has the
    same shape. ``cap=False`` is the shape in which the incremental result
    equals a batch match over corpus ∪ batch exactly.
    """

    n = DELTA_CORPUS_N
    docs_per_unit = DELTA_BATCH
    # batches are short and mostly per-query overhead: two warm-up batches,
    # then every pool batch at least once, so each run's median covers the
    # same batch shapes
    warmup_units = 2
    min_units = DELTA_POOL_BATCHES
    cfg = EmbedderConfig()

    def prepare_inputs(self, rep: int) -> None:
        super().prepare_inputs(rep)
        first_held = DELTA_CORPUS_N - DELTA_BATCH * DELTA_POOL_BATCHES
        tid = F.col("true_id")
        self.corpus_docs = self.docs_a.unionByName(self.docs_b.where(tid < first_held))
        self.batches = [
            self.docs_b.where((tid >= lo) & (tid < lo + DELTA_BATCH))
            for lo in range(first_held, DELTA_CORPUS_N, DELTA_BATCH)
        ]

    def build_state(self) -> None:
        super().build_state()
        cfg = self.cfg
        root = os.path.join(self.workdir, "state")
        blocks = explode_blocks(
            add_block_keys(embed_documents(self.corpus_docs, cfg, keep=["doc_id"]), cfg),
            include_indices=False,
        )
        blocks.write.mode("overwrite").parquet(os.path.join(root, "corpus_blocks"))
        self.corpus_blocks = self.spark.read.parquet(os.path.join(root, "corpus_blocks"))
        prior = generate_candidates(
            self.corpus_blocks, None, cfg, cap=False, allow_uncapped=True
        )
        prior.write.mode("overwrite").parquet(os.path.join(root, "prior_pairs"))
        self.prior = self.spark.read.parquet(os.path.join(root, "prior_pairs"))
        self.prior_rows = self.prior.count()
        self.corpus_ids = {r["doc_id"] for r in self.corpus_docs.select("doc_id").collect()}

    def unit(self, i: int):
        cfg, span = self.cfg, self.tracer.span
        docs = self.batches[i % len(self.batches)]
        with span("embedding"):
            emb = materialise(embed_documents(docs, cfg, keep=["doc_id"]))
        with span("blocking"):
            blk = materialise(explode_blocks(add_block_keys(emb, cfg), include_indices=False))
        with span("incremental"):
            with span("candidates"):
                new_df = delta_candidates(
                    self.corpus_blocks, blk, cfg, cap=False, allow_uncapped=True
                )
                new = materialise(new_df)
            with span("matching"):
                matches = materialise(delta_match(self.prior, new))
        return {"emb": emb, "blk": blk, "new_df": new_df, "new": new, "matches": matches}

    def check(self, i: int, out, checks: Checks) -> None:
        checks.expect(pair_rows_unique(out["new"]), "delta_candidates: duplicate (id1,id2) rows")
        r = out["matches"].agg(
            F.count("*").alias("n"),
            F.size(F.array_distinct(F.flatten(F.collect_list(F.array("id1", "id2"))))).alias("d"),
        ).first()
        checks.expect(2 * r["n"] == r["d"], "delta_match: not one-to-one")
        self.join_path = join_path(out["new_df"])
        self.last = out
        if self.tracer.enabled:
            n_new = out["new"].count()
            self.layer_rows[i] = {
                "embedding": out["emb"].count(),
                "blocking": out["blk"].count(),
                "candidates": n_new,
                "incremental": self.prior_rows + n_new,
                "matching": r["n"],
            }

    def final_check(self, checks: Checks) -> None:
        """The last batch equals a batch match over corpus ∪ batch."""
        out, cfg = self.last, self.cfg
        union = self.corpus_blocks.unionByName(out["blk"])
        batch = mutual_best_match(
            generate_candidates(union, None, cfg, cap=False, allow_uncapped=True),
            self_linkage=True,
        )

        def rows(df):
            return sorted(
                (r["id1"], r["id2"], round(r["sim"], 9))
                for r in df.select("id1", "id2", "sim").collect()
            )

        got = rows(out["matches"])
        checks.expect(got == rows(batch), "delta_match differs from batch match over the union")
        present = self.corpus_ids | {
            r["doc_id"] for r in out["emb"].select("doc_id").collect()
        }
        truth = {(a, b) for a, b in self.truth if a in present and b in present}
        self.f1_values.append(pairwise_f1({(a, b) for a, b, _ in got}, truth))


WORKLOADS = {"link_batch": LinkBatch, "link_staged": LinkStaged, "delta_ingest": DeltaIngest}
