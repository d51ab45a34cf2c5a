"""End-to-end KG-construction pipeline: extract → link → canonicalize →
materialize, with per-stage checkpoints, lineage metrics, and the flagship
DGX query (disease→gene→genetic_condition, the reference's `-q 1` path,
builder/builder.py:589-591).

Lifecycle mapping (SURVEY.md §3 rebuild lifecycle): every stage is one
DataFrame job; the only driver-side loops are plan construction and the
connected-components fixpoint.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.canonicalize import canonical_map, resolve_aliases
from ..operators.expand import (
    aggregate_program_triples,
    canonicalize_predicate_map,
)
from ..operators.extract import detect_mentions, explode_spans
from ..operators.materialize import (
    build_nodes,
    enhance_nodes,
    stage_metrics,
    validate_triples,
)
from ..sources.checkpoint import CheckpointManager
from ..sources.readers import read_fixtures
from .query import enumerate_programs, tokenize_path

DGX_PATH = ["disease", "gene", "genetic_condition"]


def _parquet_rows_hint(fixture_dir: str) -> int | None:
    """Corpus size from parquet footers (metadata-only, no Spark job) —
    decides how stage intermediates are materialized."""
    import glob as _glob

    try:
        import pyarrow.parquet as pq

        path = os.path.join(fixture_dir, "documents.parquet")
        files = (
            sorted(_glob.glob(os.path.join(path, "*.parquet")))
            if os.path.isdir(path)
            else [path]
        )
        return sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    except Exception:
        return None


@dataclass
class PipelineConfig:
    fixture_dir: str
    workdir: str
    path_types: list[str] = field(default_factory=lambda: list(DGX_PATH))
    # path DSL (e.g. "D(1-2)GX"); overrides path_types — compiled into every
    # concrete program through the metagraph (reference compile_query)
    path: str | None = None
    # seed values: restrict path starts to these CURIEs (the reference's
    # --start seed, builder/builder.py:512-517 — lookup_identifier output
    # feeds generate_query's start_identifiers); canonicalized via the rep map
    start_values: list[str] | None = None
    # terminal values: run as an end-bound two-sided query
    # (builder/userquery.py:104-113); CURIEs, canonicalized via the rep map
    end_values: list[str] | None = None
    # emit only edges on paths matching the FULL pattern (cypher semantics);
    # default False preserves emit-per-hop (every reachable edge kept)
    require_complete: bool = False
    with_support: bool = True
    # supporter modules to run (reference -s flag, builder/builder.py:320-362);
    # with_support=False disables all
    supporters: list[str] = field(default_factory=lambda: ["omnicorp"])
    # support-pair generator: 'all' = unordered all-pairs over graph nodes
    # (generate_all_links, builder/builder.py:364-370 — the reference's live
    # path); 'paths' = path-constrained contexts mode
    # (generate_links_from_paths, builder/builder.py:372-407)
    support_pair_mode: str = "all"
    # per-edge provenance cap (reference LIMIT 10000, builder/chemotext.py:53)
    publication_cap: int = 10_000
    # edge ctime (unix epoch) — injected, not now(), so runs are reproducible
    ctime: int = 0
    # enhance-stage fatal guard (reference hard-exits on a DOID primary id,
    # builder/builder.py:314-317); empty by default because this engine's
    # min-CURIE canonical rep legitimately surfaces alias prefixes
    forbidden_id_prefixes: tuple[str, ...] = ()
    # durable commit cadence for the distributed-CC loop inside rep_map
    # (operators/iterate.LoopCheckpointer): every 5 rounds, the measured
    # 2.8-5.0%-overhead cadence (BENCH §0h) — a preempted canonicalization
    # then resumes from the last committed round instead of round zero.
    # Only the distributed CC side engages it; the local union-find (every
    # corpus below ~2M aliases) has no loop to protect. 0 disables
    # (localCheckpoint-only rounds, the pre-round-7 behavior).
    cc_commit_every: int = 5

    def query_key(self, programs: list[list[str]]) -> str:
        """Stage-name suffix for query-dependent stages, so one workdir
        shares the expensive doc-scale stages (mentions, rep_map,
        doc_entities) across query variants while expansion outputs stay
        isolated per query. Empty for the default DGX config (layout
        backward-compatible)."""
        import hashlib
        import json

        sups = sorted(self.supporters) if self.with_support else []
        if (
            programs == [DGX_PATH]
            and not self.start_values
            and not self.end_values
            and not self.require_complete
            and sups == ["omnicorp"]
            # parameters that change stage OUTPUT must be part of the stage
            # identity, or a rerun in the same workdir silently resumes
            # checkpoints computed under the old parameters
            and self.publication_cap == 10_000
            and self.ctime == 0
            and not self.forbidden_id_prefixes
            and self.support_pair_mode == "all"
        ):
            return ""
        sig = json.dumps(
            [
                programs,
                sorted(self.start_values or []),
                sorted(self.end_values or []),
                self.require_complete,
                sups,
                self.publication_cap,
                self.ctime,
                sorted(self.forbidden_id_prefixes),
                self.support_pair_mode,
            ]
        )
        return "@" + hashlib.md5(sig.encode()).hexdigest()[:8]


class KGPipeline:
    def __init__(self, spark: SparkSession, cfg: PipelineConfig):
        self.spark = spark
        self.cfg = cfg
        self.ckpt = CheckpointManager(spark, cfg.workdir)

    # -- stages -----------------------------------------------------------
    def run(self) -> dict[str, DataFrame]:
        spark, cfg, ckpt = self.spark, self.cfg, self.ckpt
        t = read_fixtures(spark, cfg.fixture_dir)

        docs = t["documents"]
        # under-split input (few files / giant row groups) would pin the
        # most expensive stage (mention detection) to a handful of tasks;
        # one doc_id-hash shuffle buys full-width parallelism. At cluster
        # scale the input is thousands of files and this never triggers.
        par = spark.sparkContext.defaultParallelism
        if docs.rdd.getNumPartitions() < par:
            docs = docs.repartition(par * 2, "doc_id")

        mentions = ckpt.run_stage(
            "mentions",
            lambda: detect_mentions(
                explode_spans(docs), t["lexicon"], t["entity_embeddings"]
            ),
        )

        # surfaced for tests/operators-report: resumed_from/iterations of
        # the CC loop when the distributed path ran durably this run
        self.cc_stats: dict = {}
        rep_map = ckpt.run_stage(
            "rep_map",
            lambda: canonical_map(
                t["normalization"],
                manager=ckpt,
                cc_stage="rep_map_cc",
                cc_commit_every=cfg.cc_commit_every,
                stats=self.cc_stats,
            ),
        )

        def _doc_entities() -> DataFrame:
            # node_type of the canonical component (not the raw candidate)
            # wins, as in reference synonymization; the curie's rep-map row
            # holds it, so it rides the one alias join as rep_type
            resolved = resolve_aliases(
                mentions,
                rep_map.select("curie", "rep", F.col("node_type").alias("rep_type")),
                "curie",
            )
            return resolved.select(
                "doc_id",
                "rep",
                F.coalesce("rep_type", "node_type").alias("node_type"),
                F.col("curie").alias("orig"),
            ).distinct()

        # NOT a commit point: doc_entities is re-derivable in one narrow
        # join from the two committed frontier stages above it, so paying a
        # full parquet write+read-back cycle here only taxed the fixed
        # floor. localCheckpoint (eager) materializes it once and truncates
        # lineage to a LogicalRDD — every downstream consumer (one scan per
        # program + the metrics rollup) then carries a leaf-sized plan
        # instead of re-embedding the salted-join subtree (plain persist was
        # measured SLOWER fresh-JVM: the re-analyzed subtrees grow
        # optimization + codegen time past what the skipped commits saved).
        # Durability is unaffected: on executor loss past the block's
        # lifetime the job restarts from the committed frontier.
        # From ~2M docs up (parquet footers), these intermediates are durable
        # stage commits instead: at 8M docs commit measured 179/234s vs
        # 283/322s local (interleaved A/B, 4 executor JVMs x 2 cores) —
        # doc-scale localCheckpoint blocks live DESERIALIZED in executor
        # heaps (GC-heavy, single-replica fetches) while parquet is
        # compressed and column-pruned on re-read; at <=1M docs the two are
        # statistically equal and local avoids the commit floor.
        commit = (_parquet_rows_hint(cfg.fixture_dir) or 0) >= 2_000_000
        if commit:
            doc_entities = ckpt.run_stage("doc_entities", _doc_entities)
        else:
            doc_entities = _doc_entities().localCheckpoint(eager=True)

        # --- compile the query into concrete programs (driver-side, over
        # the type-level metagraph = distinct (src,dst) pairs — dimension) --
        if cfg.path:
            metagraph = {
                (r["src_type"], r["dst_type"])
                for r in t["predicate_map"].select("src_type", "dst_type").distinct().collect()
            }
            programs = enumerate_programs(tokenize_path(cfg.path), metagraph)
        else:
            programs = [cfg.path_types]
        qk = cfg.query_key(programs)

        def _canonize(values: list[str]) -> list[str]:
            # canonicalize seed/terminal CURIEs (tiny driver-side lookup)
            hits = {
                r["curie"]: r["rep"]
                for r in rep_map.filter(F.col("curie").isin(values))
                .select("curie", "rep")
                .collect()
            }
            return sorted({hits.get(v, v) for v in values})

        start_reps = _canonize(cfg.start_values) if cfg.start_values else None
        end_reps = _canonize(cfg.end_values) if cfg.end_values else None

        def _triples_base() -> DataFrame:
            pm_rep = canonicalize_predicate_map(t["predicate_map"], rep_map)
            return aggregate_program_triples(
                doc_entities,
                pm_rep,
                programs,
                end_reps,
                cfg.require_complete,
                publication_cap=cfg.publication_cap,
                ctime=cfg.ctime,
                start_reps=start_reps,
            )

        # materialized (localCheckpoint, NOT a checkpoint commit): the
        # support stage derives graph_nodes from the expansion triples AND
        # unions them back, so without materialization the expand DAG would
        # run twice — but durability belongs to the triples{qk} frontier
        # commit just below; a second parquet round-trip here was pure floor
        if commit:
            triples_base = ckpt.run_stage(f"triples_base{qk}", _triples_base)
        else:
            triples_base = _triples_base().localCheckpoint(eager=True)

        def _triples() -> DataFrame:
            from ..operators.supporters import get_supporter

            triples = triples_base
            sups = cfg.supporters if cfg.with_support else []
            if sups:
                graph_nodes = (
                    triples.select(F.col("subj").alias("id"))
                    .union(triples.select(F.col("obj").alias("id")))
                    .distinct()
                )
                pairs = None
                if cfg.support_pair_mode == "paths":
                    # contexts mode (builder/builder.py:372-407): restrict
                    # supporter pairs to (node, ancestor) along program paths
                    from ..operators.expand import path_constrained_pairs

                    pm_rep = canonicalize_predicate_map(t["predicate_map"], rep_map)
                    for prog in programs:
                        sr = doc_entities.filter(
                            F.col("node_type") == prog[0]
                        ).select("rep")
                        if start_reps is not None:
                            sr = sr.filter(F.col("rep").isin(start_reps))
                        p = path_constrained_pairs(
                            sr, pm_rep, prog, end_reps, cfg.require_complete
                        )
                        pairs = p if pairs is None else pairs.unionByName(p)
                    pairs = pairs.distinct()
                elif cfg.support_pair_mode != "all":
                    raise ValueError(
                        f"unknown support_pair_mode {cfg.support_pair_mode!r}"
                    )
                for name in sups:
                    triples = triples.unionByName(
                        get_supporter(name).support(
                            graph_nodes,
                            rep_map,
                            t,
                            publication_cap=cfg.publication_cap,
                            ctime=cfg.ctime,
                            pairs=pairs,
                        )
                    )
            return validate_triples(triples)

        # cluster rows by the partition column before the partitioned
        # commit: without this every one of the ~32 writer tasks opens a
        # file per pred value (measured 65 files for 791 rows at SF=1 —
        # guide §6 small-files); after, one file per pred per non-empty
        # partition. Row content unchanged.
        triples = ckpt.run_stage(
            f"triples{qk}",
            lambda: _triples().repartition("pred"),
            partition_by=["pred"],
        )
        # partitioned read-back floats the partition column out of place;
        # re-assert the contractual column order (schemas.TRIPLES)
        from ..schemas import TRIPLES

        triples = triples.select(*[f.name for f in TRIPLES.fields])

        nodes = ckpt.run_stage(
            f"nodes{qk}",
            lambda: enhance_nodes(
                build_nodes(triples, rep_map, mesh_labels=t.get("mesh_terms")),
                t["label_lookup"],
                forbidden_prefixes=cfg.forbidden_id_prefixes,
            ),
            partition_by=["node_type"],
        )

        def _metrics() -> DataFrame:
            return (
                stage_metrics(mentions, "mentions")
                .unionByName(stage_metrics(doc_entities, "doc_entities"))
                .unionByName(stage_metrics(triples, "triples", by="pred"))
                .unionByName(stage_metrics(nodes, "nodes", by="node_type"))
            )

        # lazy, uncommitted: a dimension-sized rollup over tables that are
        # either committed (mentions/triples/nodes) or persisted — computed
        # only when a consumer actually collects it
        if commit:
            metrics = ckpt.run_stage(f"metrics{qk}", _metrics)
        else:
            metrics = _metrics()

        return {
            "mentions": mentions,
            "rep_map": rep_map,
            "doc_entities": doc_entities,
            "triples": triples,
            "nodes": nodes,
            "metrics": metrics,
        }


def run_pipeline(
    spark: SparkSession, fixture_dir: str, workdir: str, **kwargs
) -> dict[str, DataFrame]:
    return KGPipeline(spark, PipelineConfig(fixture_dir, workdir, **kwargs)).run()
