"""The benchmark's workloads: set-up, one timed pass, its output check, and
the traced per-layer calls. Every call into the program goes through the
functions users call; nothing in the program is patched."""

from __future__ import annotations

import os
import shutil
import time

import gen
import oracle

def spark_digest(df, cols, scaled=()):
    """The Spark-side twin of :func:`oracle.digest`; ``scaled`` doubles are
    carried as round(x·10⁴)."""
    from pyspark.sql import functions as F

    parts = []
    for c in cols:
        e = F.round(F.col(c) * 10000).cast("long") if c in scaled else F.col(c)
        parts.append(F.coalesce(e.cast("string"), F.lit(oracle.NULL)))
    h = F.conv(F.substring(F.sha2(F.concat_ws(oracle.SEP, *parts), 256), 1, 10), 16, 10)
    r = df.select(h.cast("long").alias("h")).agg(
        F.count("*").alias("n"), F.sum("h").alias("s")).first()
    return int(r["n"]), int(r["s"] or 0)


def write_parquet(path: str, table) -> None:
    import pyarrow.parquet as pq

    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    name = ""

    def __init__(self, spark, run_dir: str, seed: int, tracer):
        self.spark = spark
        self.run_dir = run_dir
        self.seed = seed
        self.tr = tracer
        self.sizes = gen.SIZES[self.name]
        self.mismatches: list[str] = []
        self.notes: list[str] = []
        self.timer = oracle.KernelTimer()

    def work(self, tag: str) -> str:
        return os.path.join(self.run_dir, "work", tag)

    def generate(self):
        """The seed's inputs, written as parquet and read back for Spark."""
        self.inputs()
        self.write_inputs()

    def expect(self):
        """The expected outputs: the values committed in EXPECTED.json, which
        were computed once by the oracle at a fixed commit, so that a program
        change moves the output but not what it is checked against. A seed
        the file does not hold falls back to the oracle run now, with a note."""
        got = oracle.committed(self.name, self.seed)
        if got is None:
            self.notes.append(f"seed {self.seed} is not in EXPECTED.json; {self.name} is "
                              "checked against the oracle computed now")
            got = self.expected()
        self.want = {k: tuple(v) for k, v in got["want"].items()}
        self.triples_out = got.get("triples_out", 0)
        self.candidates = got.get("candidates")

    def compare(self, what: str, got, want) -> bool:
        if tuple(got) != tuple(want):
            self.mismatches.append(f"{what}: got {got}, expected {want}")
            return False
        return True


# -- transcript_pipeline ---------------------------------------------------------


class TranscriptPipeline(Workload):
    """Pipeline.run with default options over seeded transcripts."""

    name = "transcript_pipeline"

    def inputs(self):
        s = self.sizes
        self.rows = gen.transcript_rows(self.seed, s["convs"], s["turns"],
                                        s["hot_convs"], s["hot_turns"])
        self.input_rows = len(self.rows)

    def write_inputs(self):
        import pyarrow as pa

        cols = list(zip(*self.rows))
        table = pa.table({
            "conv_id": pa.array(cols[0], pa.string()),
            "turn_idx": pa.array(cols[1], pa.int32()),
            "role": pa.array(cols[2], pa.string()),
            "text": pa.array(cols[3], pa.string()),
            "tool": pa.array(cols[4], pa.string()),
            "ts": pa.array(cols[5], pa.timestamp("us", tz="UTC")),
        })
        path = os.path.join(self.run_dir, "input", "transcripts.parquet")
        write_parquet(path, table)
        self.input = self.spark.read.parquet(path)

    def expected(self) -> dict:
        docs = sorted(gen.docs_by_conv(self.rows).items())
        canonical, quarantine = oracle.kg_expected(docs)
        return {"want": {
            "canonicalize": oracle.digest(canonical),
            "triples_quarantine": oracle.digest(quarantine),
            "materialize": oracle.digest(canonical + oracle.link_rows(self.rows)),
        }, "triples_out": len(canonical)}

    def run_once(self, tag: str) -> str:
        from pyld_spark.plans.pipeline import Pipeline

        wd = self.work(tag)
        Pipeline(self.spark, wd, run_id=tag).run(self.input)
        return wd

    def check(self, wd: str) -> bool:
        self.lineage = {r["stage"]: r["wall_ms"] for r in
                        self.spark.read.parquet(os.path.join(wd, "lineage")).collect()}
        ok = True
        for stage, cols in (("canonicalize", oracle.TRIPLE_COLS),
                            ("triples_quarantine", ["doc_id", "error_code"]),
                            ("materialize", oracle.TRIPLE_COLS)):
            got = spark_digest(self.spark.read.parquet(os.path.join(wd, stage)), cols)
            ok &= self.compare(stage, got, self.want[stage])
        return ok

    def layers(self, m: dict):
        """Per-layer calls, each under its own span."""
        from pyld_spark.operators.linking import entity_table, extract_mentions, link_entities
        from pyld_spark.transcripts import assemble_documents

        with self.tr.span("transcripts"):
            noop(assemble_documents(self.input))
        docs = assemble_documents(self.input).cache()
        docs.count()
        kg_layers(self, docs, "conv_id", m)
        docs.unpersist()
        with self.tr.span("linking"):
            noop(link_entities(extract_mentions(self.input)))
        linked = link_entities(extract_mentions(self.input)).cache()
        m["linking.mentions_out"] = linked.count()
        m["linking.entities_out"] = entity_table(linked).count()
        linked.unpersist()


def kg_layers(w: Workload, docs, id_col: str, m: dict):
    """expand_stage and canonicalize, each called alone under its span (into
    a noop sink), with their counts taken outside the spans."""
    from pyspark.sql import functions as F

    from pyld_spark.operators.canonicalize import canonicalize_triples, first_degree_hashes
    from pyld_spark.operators.expand_stage import docs_to_triples, split_quarantine

    with w.tr.span("expand_stage"):
        noop(docs_to_triples(docs, id_col=id_col))
    combined = docs_to_triples(docs, id_col=id_col).cache()
    got = {r["ok"]: r["count"] for r in combined.groupBy(
        F.col("error_code").isNull().alias("ok")).count().collect()}
    m["expand_stage.triples_out"] = got.get(True, 0)
    m["expand_stage.quarantine_out"] = got.get(False, 0)
    good = split_quarantine(combined)[0].cache()
    good.count()
    with w.tr.span("canonicalize"):
        noop(canonicalize_triples(good))
    fd = first_degree_hashes(good)
    m["canonicalize.docs"] = good.select("doc_id").distinct().count()
    m["canonicalize.fallback_docs"] = (
        fd.groupBy("doc_id", "fd_hash").count().where(F.col("count") > 1)
        .select("doc_id").distinct().count())
    combined.unpersist()
    good.unpersist()


# -- mixed_jsonld -------------------------------------------------------------------


class MixedJsonld(Workload):
    """Untagged and mixed-context documents through the general kernel."""

    name = "mixed_jsonld"

    def inputs(self):
        self.docs, self.planted = gen.mixed_docs(self.seed, **self.sizes)
        self.input_rows = len(self.docs)

    def write_inputs(self):
        import pyarrow as pa

        path = os.path.join(self.run_dir, "input", "docs.parquet")
        write_parquet(path, pa.table({
            "doc_id": pa.array([d for d, _ in self.docs], pa.string()),
            "doc": pa.array([j for _, j in self.docs], pa.string()),
        }))
        self.input = self.spark.read.parquet(path)

    def expected(self) -> dict:
        canonical, quarantine = oracle.kg_expected(self.docs, self.timer)
        if sorted(quarantine) != self.planted["quarantine"]:
            self.mismatches.append("oracle quarantine differs from the planted codes")
        return {"want": {"canonical": oracle.digest(canonical),
                         "quarantine": oracle.digest(quarantine)},
                "triples_out": len(canonical)}

    def chain(self):
        from pyld_spark.operators.canonicalize import canonicalize_triples
        from pyld_spark.operators.expand_stage import docs_to_triples, split_quarantine

        good, bad = split_quarantine(docs_to_triples(self.input, id_col="doc_id"))
        return canonicalize_triples(good), bad

    def run_once(self, tag: str) -> str:
        wd = self.work(tag)
        canonical, bad = self.chain()
        bad.write.parquet(os.path.join(wd, "quarantine"))
        canonical.write.parquet(os.path.join(wd, "canonical"))
        return wd

    def check(self, wd: str) -> bool:
        ok = True
        for name, cols in (("canonical", oracle.TRIPLE_COLS),
                           ("quarantine", ["doc_id", "error_code"])):
            got = spark_digest(self.spark.read.parquet(os.path.join(wd, name)), cols)
            ok &= self.compare(name, got, self.want[name])
        return ok

    def layers(self, m: dict):
        kg_layers(self, self.input, "doc_id", m)
        self.jsonld_layer()
        self.dedup_side_pass(m)

    def jsonld_layer(self):
        """The jsonld kernel alone, outside Spark on one thread, timed per
        call; its output must match the committed expected values too."""
        self.timer = oracle.KernelTimer()
        got = self.expected()["want"]
        for name, want in self.want.items():
            self.compare(f"jsonld kernel alone, {name}", got[name], want)

    def dedup_side_pass(self, m: dict):
        """The dedup/ANN layer, measured here because a workload of its own
        does not fit the run budget: the dedup/ANN inputs for this seed and
        one pass under spans, its output checked. The pass is each
        operator's first, so its spans include plan code generation."""
        side = DedupAnn(self.spark, self.run_dir, self.seed, self.tr)
        side.generate()
        side.expect()
        with self.tr.span("dedup"):
            side.run_once("traced")
        side.check("")
        self.mismatches += side.mismatches
        self.notes += side.notes
        side.layers(m)
        self.candidates = side.candidates


# -- dedup/ANN operators (measured in mixed_jsonld's traced run) ----------------------


class DedupAnn(Workload):
    """The dedup and ANN operator set, each into the digest sink. Not a
    workload of its own: mixed_jsonld's traced run drives it."""

    name = "dedup_ann"

    def inputs(self):
        s = self.sizes
        self.texts, self.groups = gen.text_docs(self.seed, s["docs"], s["dup_groups"],
                                                s["dup_size"])
        self.vecs, self.vec_pairs = gen.vectors(self.seed, s["vecs"], s["vec_dup_groups"],
                                                s["dim"])

    def write_inputs(self):
        import pyarrow as pa

        tpath = os.path.join(self.run_dir, "input", "texts.parquet")
        vpath = os.path.join(self.run_dir, "input", "vectors.parquet")
        write_parquet(tpath, pa.table({
            "doc_id": pa.array([d for d, _ in self.texts], pa.string()),
            "text": pa.array([t for _, t in self.texts], pa.string()),
        }))
        write_parquet(vpath, pa.table({
            "vec_id": pa.array([i for i, _ in self.vecs], pa.int64()),
            "embedding": pa.array([v for _, v in self.vecs], pa.list_(pa.float64())),
        }))
        self.docs_df = self.spark.read.parquet(tpath)
        self.vecs_df = self.spark.read.parquet(vpath)

    def ops(self) -> dict:
        """Each operator as a builder, so plan construction is timed too."""
        from pyspark.sql import functions as F

        from pyld_spark.operators.dedup import (
            embedding_cosine_pairs, minhash_dedup_pairs, ngram_jaccard_pairs,
            semantic_dedup, simhash_near_pairs, simhash_signatures,
        )
        from pyld_spark.operators.similarity import ivf_topk_quantized, lsh_bucketed_topk

        dim, nq = self.sizes["dim"], self.sizes["queries"]
        docs, vecs = self.docs_df, self.vecs_df
        queries = vecs.where(F.col("vec_id") < nq).select(
            F.col("vec_id").alias("query_id"), "embedding")
        return {
            "minhash_pairs": lambda: minhash_dedup_pairs(docs),
            "simhash_pairs": lambda: simhash_near_pairs(simhash_signatures(docs)),
            "embedding_pairs": lambda: embedding_cosine_pairs(vecs, dim=dim),
            "ngram_jaccard": lambda: ngram_jaccard_pairs(docs),
            "semantic_dedup": lambda: semantic_dedup(vecs),
            "lsh_topk": lambda: lsh_bucketed_topk(vecs, queries, dim=dim),
            "ivf_topk": lambda: ivf_topk_quantized(vecs, queries),
        }

    COLS = {
        "minhash_pairs": (["doc_a", "doc_b", "est_jaccard"], ["est_jaccard"]),
        "simhash_pairs": (["doc_a", "doc_b", "hamming"], []),
        "embedding_pairs": (["id_a", "id_b", "cos_q6"], []),
        "ngram_jaccard": (["doc_a", "doc_b", "inter", "size_a", "size_b", "jaccard"],
                          ["jaccard"]),
        "semantic_dedup": (["vec_id", "cell_id", "centroid_rank", "kept"], []),
        "lsh_topk": (["query_id", "neighbor_id", "rank", "cosine"], ["cosine"]),
        "ivf_topk": (["query_id", "neighbor_id", "rank", "dot"], []),
    }

    def expected(self) -> dict:
        s = self.sizes
        ngram, candidates = oracle.ngram_expected(self.texts, self.groups)
        rows = {
            "minhash_pairs": oracle.pair_rows(self.groups, 10000),
            "simhash_pairs": oracle.pair_rows(self.groups, 0),
            "embedding_pairs": oracle.pair_rows([sorted(p) for p in self.vec_pairs], 1000000),
            "ngram_jaccard": ngram,
            "semantic_dedup": oracle.semantic_dedup_expected(self.vecs),
            "lsh_topk": oracle.lsh_topk_expected(self.vecs, s["queries"], s["dim"]),
            "ivf_topk": oracle.ivf_expected(self.vecs, s["queries"]),
        }
        return {"want": {k: oracle.digest(v) for k, v in rows.items()},
                "candidates": candidates}

    def run_once(self, tag: str) -> str:
        """Every operator into the digest sink: a count and an
        order-independent hash of its rows (a noop sink keeps nothing the
        check could read)."""
        self.op_walls, self.got = {}, {}
        for name, build in self.ops().items():
            cols, scaled = self.COLS[name]
            t0 = time.perf_counter()
            with self.tr.span("dedup." + name):
                self.got[name] = spark_digest(build(), cols, scaled)
            self.op_walls[name] = time.perf_counter() - t0
        return ""

    def check(self, _wd: str) -> bool:
        ok = True
        for name, got in self.got.items():
            ok &= self.compare(name, got, self.want[name])
        return ok

    def layers(self, m: dict):
        # the op spans of the traced pass are the layer spans here
        for op, secs in self.op_walls.items():
            m[f"{'similarity' if op.endswith('topk') else 'dedup'}.{op}_s"] = secs
        m["dedup.ngram_pairs_out"] = self.got["ngram_jaccard"][0]


WORKLOADS = {w.name: w for w in (TranscriptPipeline, MixedJsonld)}


def clean(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
