"""The benchmark's workloads.

Each workload makes its inputs from the seed (``generate``), runs one
iteration through the library's public entry points (``run``), and
checks that iteration's outputs (``check``; ``final_check`` holds the
costlier checks made once per run).  The two benchmarked workloads are
composites of four parts: ``Dump`` + ``Sync`` and ``Curate`` +
``Vectors``.  Inputs come from ``tools/gen_sf.py`` and
``multimodal.synthetic_image_corpus``; the program sees only the files
they write.
"""

from __future__ import annotations

import contextlib
import dataclasses
import io
import json
import os
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql import types as T

import gen_sf  # tools/, put on sys.path by run.py
from paradump_spark.catalog import TESTDATA_PRIMARY_KEYS, ParquetCatalog
from paradump_spark.dump import DumpOptions, dump_tables, verify_dump, write_manifest
from paradump_spark.functions.text import token_count
from paradump_spark.operators import multimodal
from paradump_spark.operators.checksum import changed_chunks, table_checksum
from paradump_spark.operators.decontam import contamination_bloom
from paradump_spark.operators.dedup import (
    dedup_exact,
    dedup_minhash,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
)
from paradump_spark.operators.packing import pack_documents, packing_stats
from paradump_spark.operators.quality_rules import GopherThresholds, gopher_filter
from paradump_spark.operators.sampling import split
from paradump_spark.operators.semdedup import semantic_dedup
from paradump_spark.operators.similarity import knn_join
from paradump_spark.operators.textnorm import normalize_text
from paradump_spark.plans.split import plan_chunks
from paradump_spark.sinks import files as sink_files
from paradump_spark.sinks.files import rendered_tuples, write_noop
from paradump_spark.sinks.shards import verify_shards, write_shards
from paradump_spark.sources.files import read_csv_dump, schema_from_meta
from paradump_spark.sync import SyncOptions, sync_report, sync_tables


def parquet_rows(path: Path) -> int:
    return pq.read_metadata(path).num_rows


def tree_bytes(path: Path) -> tuple[int, int]:
    """(bytes, files) of the data files under ``path``; Hadoop's hidden
    ``.crc`` side files and ``_SUCCESS`` markers are not output."""
    if path.is_file():
        return path.stat().st_size, 1
    total = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            total += os.path.getsize(os.path.join(d, n))
            files += 1
    return total, files


def _gen_star(out: Path, scale: float, seed: int) -> None:
    with contextlib.redirect_stdout(io.StringIO()):  # gen_sf prints per table
        gen_sf.generate(str(out), scale, seed)


class Workload:
    name = ""
    why = ""
    # untimed warm-up iterations: a run measures the iterations after them
    WARMUP = 1
    # a run measures for its --seconds and at least this many iterations
    SAMPLES = 1

    def __init__(self, spark, cores: int):
        self.spark = spark
        self.cores = cores
        self.rows: dict[str, int] = {}  # per input table
        self.in_rows = 0  # rows one iteration reads
        self.in_bytes = 0  # parquet bytes one iteration reads

    def generate(self, root: Path, seed: int) -> None:
        raise NotImplementedError

    def run(self, tr, out: Path) -> dict:
        raise NotImplementedError

    def check(self, out: Path, res: dict) -> list[tuple[str, bool]]:
        return []

    def final_check(self, out: Path, res: dict) -> list[tuple[str, bool]]:
        return []

    def layer_metrics(self, tr, out: Path, res: dict, layers: dict) -> dict[str, float]:
        """Layer-specific metrics of one traced iteration."""
        return {}


# --------------------------------------------------------------- dump
class _MicrosCatalog(ParquetCatalog):
    """The generated catalog, declaring what its timestamp columns hold.

    ``ParquetCatalog.meta`` declares every Spark timestamp column with 0
    fractional-second digits, so a dump of microsecond timestamps drops
    the fraction and ``verify_dump`` of the restore reports a mismatch.
    gen_sf writes microsecond timestamps; this catalog declares their 6
    digits, as the source schema of a MySQL ``datetime(6)`` would."""

    def meta(self, table: str):
        meta = super().meta(table)
        meta.columns = [
            dataclasses.replace(c, dt_prec=6)
            if isinstance(c.spark_type, (T.TimestampType, T.TimestampNTZType)) else c
            for c in meta.columns
        ]
        return meta


class _CsvDumpCatalog:
    """A restore of a CSV dump: tables load straight from the dump files
    through ``sources.files.read_csv_dump`` (duck-types the catalog
    ``verify_dump`` reads from)."""

    def __init__(self, spark, root: Path, metas: dict):
        self.spark, self.root, self.metas = spark, root, metas

    def load(self, table: str):
        return read_csv_dump(
            self.spark, str(self.root / table), schema_from_meta(self.metas[table])
        )


class Dump(Workload):
    """paradump: sql and csv_exact+zstd dumps, manifest, restore, verify."""

    name = "dump"
    SCALE = 0.1  # gen_sf scale: 1.0 is the sf0.1 shape
    # the star's fact table; each further table adds about a dozen Spark
    # jobs (~2 s of per-job floor) to an iteration
    TABLES = ["lineitem"]

    def generate(self, root: Path, seed: int) -> None:
        self.src = root / "star"
        _gen_star(self.src, self.SCALE, seed)
        for t in self.TABLES:
            self.rows[t] = parquet_rows(self.src / f"{t}.parquet")
        self.in_rows = sum(self.rows.values())
        self.in_bytes = sum(tree_bytes(self.src / f"{t}.parquet")[0] for t in self.TABLES)

    def run(self, tr, out: Path) -> dict:
        cat = _MicrosCatalog(self.spark, str(self.src))
        with tr.span("catalog"):
            names = [n for n in cat.list_tables() if n in self.TABLES]
            metas = {n: cat.meta(n) for n in names}
        if tr.enabled:
            with tr.span("probe.scan"):
                for n in names:
                    write_noop(cat.load(n))
            with tr.span("probe.render"):
                for n in names:
                    write_noop(rendered_tuples(cat.load(n), metas[n]))
        with tr.span("sinks.files.sql"):
            dump_tables(cat, str(out / "sql"), names,
                        DumpOptions(mode="sql", insertsize=500))
        with tr.span("sinks.files.csv"), tr.patch(
            sink_files, "zstd_compress_files", "sinks.files.zstd_s"
        ):
            csv = dump_tables(cat, str(out / "csv"), names,
                              DumpOptions(mode="csv_exact", compression="zstd"))
        with tr.span("dump.manifest"):
            manifest = write_manifest(cat, str(out / "csv"), csv)
        with tr.span("sources.restore"):
            verified = verify_dump(_CsvDumpCatalog(self.spark, out / "csv", metas),
                                   manifest)
        return {"verified": verified, "tables": len(names)}

    def check(self, out: Path, res: dict) -> list[tuple[str, bool]]:
        tuples = 0
        for d, _, names in os.walk(out / "sql"):
            for n in names:
                if n.startswith("part-"):
                    # one VALUES tuple per line; no generated value holds
                    # a newline
                    tuples += (Path(d) / n).read_bytes().count(b"\n(")
        return [
            ("dump.verify_dump", sorted(res["verified"]) == sorted(self.TABLES)
             and all(res["verified"].values())),
            ("dump.sql_tuples", tuples == self.in_rows),
        ]

    def layer_metrics(self, tr, out, res, layers) -> dict[str, float]:
        wall = {k: v["wall_s"] for k, v in layers.items()}
        m = tr.notes.copy()
        sql_bytes, sql_files = tree_bytes(out / "sql")
        csv_bytes, csv_files = tree_bytes(out / "csv")
        m.update({
            "catalog.list_s": wall["catalog"],
            "catalog.tables": float(res["tables"]),
            "sources.scan_s": wall["probe.scan"],
            "sources.restore_s": wall["sources.restore"],
            "render.s": wall["probe.render"] - wall["probe.scan"],
            "render.rows": float(self.in_rows),
            "sinks.files.write_s": wall["sinks.files.sql"] - wall["probe.render"],
            "sinks.files.bytes": float(sql_bytes + csv_bytes),
            "sinks.files.files": float(sql_files + csv_files),
        })
        return m


# --------------------------------------------------------------- sync
class Sync(Workload):
    """parasync: full diff of scattered changes, two-phase checksum diff
    of clustered changes."""

    name = "sync"
    SCALE = 0.05
    TABLES = ("lineitem",)  # composite primary key
    CHANGE_FRAC = 0.01  # share of rows per change kind
    CHUNKS = 8  # two-phase PK chunks per table
    ACTIONS = ("Insert", "Update", "Delete")
    PAYLOAD = {"lineitem": "l_quantity"}  # the column planted updates change

    def generate(self, root: Path, seed: int) -> None:
        """One source and two destination snapshots of each table.

        From the generated table T (sorted by key): the scattered
        changes are three disjoint row sets I/U/D spread over the key
        space, the clustered ones three row sets inside one window of
        contiguous keys.  The window sits inside one of the ``CHUNKS``
        equal-count key ranges the two-phase path plans, so it finds
        one dirty chunk on every seed.  src = T minus both D sets; each
        destination keeps the other destination's D rows out, drops its
        own I rows and changes the payload of its own U rows."""
        gen = root / "gen"
        _gen_star(gen, self.SCALE, seed)
        rng = np.random.default_rng(seed + 1)
        self.src, self.dst_s, self.dst_c = (root / d for d in ("src", "dst_s", "dst_c"))
        for d in (self.src, self.dst_s, self.dst_c):
            d.mkdir(parents=True)
        self.planted: dict[str, dict[str, int]] = {}
        for t in self.TABLES:
            table = pq.read_table(gen / f"{t}.parquet")
            n = table.num_rows
            k = max(1, int(n * self.CHANGE_FRAC))
            w = 4 * k
            span = n // self.CHUNKS
            # keep clear of the range's ends: plan_chunks samples them
            start = int(rng.integers(0, self.CHUNKS)) * span + (span - w) // 2
            clus = start + rng.choice(w, 3 * k, replace=False)
            outside = np.concatenate([np.arange(0, start), np.arange(start + w, n)])
            scat = rng.choice(outside, 3 * k, replace=False)
            i_s, u_s, d_s = np.split(scat, 3)
            i_c, u_c, d_c = np.split(clus, 3)
            pay = self.PAYLOAD[t]
            pq.write_table(_snapshot(table, [d_s, d_c]), self.src / f"{t}.parquet")
            pq.write_table(_snapshot(table, [d_c, i_s], u_s, pay),
                           self.dst_s / f"{t}.parquet")
            pq.write_table(_snapshot(table, [d_s, i_c], u_c, pay),
                           self.dst_c / f"{t}.parquet")
            self.planted[t] = dict.fromkeys(self.ACTIONS, k)
        shutil.rmtree(gen)
        for d in (self.src, self.dst_s, self.dst_c):
            for t in self.TABLES:
                self.rows[f"{d.name}.{t}"] = parquet_rows(d / f"{t}.parquet")
        # the src snapshot is read once per destination
        self.in_rows = sum(self.rows.values()) + sum(
            self.rows[f"src.{t}"] for t in self.TABLES)
        self.in_bytes = sum(tree_bytes(d)[0] for d in (self.dst_s, self.dst_c)) \
            + 2 * tree_bytes(self.src)[0]

    def _sync(self, tr, dst: Path, out: Path, options=None, span="diff") -> dict:
        src = ParquetCatalog(self.spark, str(self.src))
        with tr.span(span):
            syncs = sync_tables(src, ParquetCatalog(self.spark, str(dst)),
                                list(self.TABLES), options=options)
        with tr.span("diff"):
            counts: dict[str, dict[str, int]] = {}
            for r in sync_report(syncs).collect():
                counts.setdefault(r["table"], {})[r["action"]] = int(r["cnt"])
            for s in syncs:
                s.classified.where("dmltype <> 'N'").write.mode("overwrite") \
                    .parquet(str(out / s.table))
        return counts

    def run(self, tr, out: Path) -> dict:
        scattered = self._sync(tr, self.dst_s, out / "scattered")
        clustered = self._sync(tr, self.dst_c, out / "clustered",
                               SyncOptions(incremental_chunks=self.CHUNKS), "checksum")
        if tr.enabled:
            with tr.span("probe.checksum"):
                for t in self.TABLES:
                    pk = TESTDATA_PRIMARY_KEYS[t]
                    src = self.spark.read.parquet(str(self.src / f"{t}.parquet"))
                    dst = self.spark.read.parquet(str(self.dst_c / f"{t}.parquet"))
                    chunks = plan_chunks(src, pk, self.CHUNKS)
                    tr.note("checksum.chunks", len(chunks))
                    tr.note("checksum.changed_chunks",
                            len(changed_chunks(src, dst, chunks, pk)))
        return {"scattered": scattered, "clustered": clustered}

    def check(self, out: Path, res: dict) -> list[tuple[str, bool]]:
        return [
            (f"sync.{kind}.{t}",
             {a: res[kind].get(t, {}).get(a, 0) for a in self.ACTIONS}
             == self.planted[t])
            for kind in ("scattered", "clustered") for t in self.TABLES
        ]

    def final_check(self, out: Path, res: dict) -> list[tuple[str, bool]]:
        """The full diff of the clustered snapshot returns the rows the
        two-phase path wrote."""
        full = sync_tables(ParquetCatalog(self.spark, str(self.src)),
                           ParquetCatalog(self.spark, str(self.dst_c)),
                           list(self.TABLES))
        checks = []
        for s in full:
            # row count + order-insensitive sum of row hashes of each side
            a = table_checksum(s.classified.where("dmltype <> 'N'")).collect()
            b = table_checksum(self.spark.read.parquet(
                str(out / "clustered" / s.table))).collect()
            checks.append((f"sync.two_phase_equals_full.{s.table}", a == b))
        return checks

    def layer_metrics(self, tr, out, res, layers) -> dict[str, float]:
        compared = sum(sum(c.values()) for kind in ("scattered", "clustered")
                       for c in res[kind].values())
        dml = sum(c.get(a, 0) for kind in ("scattered", "clustered")
                  for c in res[kind].values() for a in self.ACTIONS)
        chunks = tr.notes.get("checksum.chunks", 0.0)
        return {
            "checksum.s": layers["checksum"]["wall_s"],
            "checksum.chunks": chunks,
            "checksum.changed_chunk_ratio":
                tr.notes.get("checksum.changed_chunks", 0.0) / chunks if chunks else 0.0,
            "diff.s": layers["diff"]["wall_s"],
            "diff.rows_compared": float(compared),
            "diff.dml_rows": float(dml),
        }


def _snapshot(table: pa.Table, drop: list[np.ndarray], bump=(), col: str = "") -> pa.Table:
    """``table`` without the rows at the ``drop`` indices, with ``col``
    changed on the rows at the ``bump`` indices."""
    if len(bump):
        i = table.schema.get_field_index(col)
        vals = table.column(i).to_numpy().copy()
        vals[bump] += 1.0
        field = table.schema.field(i)
        table = table.set_column(i, field, pa.array(vals, field.type))
    keep = np.ones(table.num_rows, dtype=bool)
    keep[np.concatenate(drop)] = False
    return table.filter(pa.array(keep))


# ------------------------------------------------------------- curate
class Curate(Workload):
    """The composed text curation pipeline, normalize to verified shards."""

    name = "curate"
    SCALE = 0.16  # gen_sf scale: documents = 5000 x scale
    BENCH_DOCS = 20  # held-out benchmark split, sampled from the corpus
    SPLITS = {"train": 0.8, "val": 0.1, "test": 0.1}
    # gen_sf documents: 8-100 words from a 31-word vocabulary holding one
    # Gopher stopword ("the"), so the default rules would drop them all
    QUALITY = GopherThresholds(min_words=20, min_stopword_hits=1)
    MAX_TOKENS = 512
    N_SHARDS = 4
    DEDUP_THRESHOLD = 0.8
    DECONTAM_N = 8  # 8-word shingles: chance overlap of random docs is nil

    def generate(self, root: Path, seed: int) -> None:
        gen = root / "gen"
        _gen_star(gen, self.SCALE, seed)
        root.joinpath("docs").mkdir()
        self.docs = root / "docs" / "documents.parquet"
        shutil.move(gen / "documents.parquet", self.docs)
        shutil.rmtree(gen)
        docs = pq.read_table(self.docs, columns=["doc_id", "text"])
        rng = np.random.default_rng(seed + 2)
        pick = np.sort(rng.choice(docs.num_rows, self.BENCH_DOCS, replace=False))
        self.bench = root / "docs" / "bench.parquet"
        pq.write_table(docs.take(pick), self.bench)
        self.rows = {"documents": docs.num_rows, "bench": self.BENCH_DOCS}
        self.in_rows = sum(self.rows.values())
        self.in_bytes = tree_bytes(root / "docs")[0]

    def run(self, tr, out: Path) -> dict:
        docs = self.spark.read.parquet(str(self.docs))
        bench = self.spark.read.parquet(str(self.bench))
        with tr.span("quality"):
            good = tr.pin(gopher_filter(normalize_text(docs, "text"), "doc_id", "text",
                                         self.QUALITY))
        with tr.span("dedup.exact"):
            uniq = tr.pin(dedup_exact(good, ["text"], "doc_id"))
        with tr.span("dedup.minhash"):
            # the pipeline's one materialization point: decontamination,
            # the split and both passes of the shard writer read it
            deduped = tr.pin(dedup_minhash(uniq, "doc_id", "text",
                                           threshold=self.DEDUP_THRESHOLD),
                             always=True)
        with tr.span("decontam"):
            flagged = contamination_bloom(deduped, bench, n=self.DECONTAM_N, n_bits=None)
            clean = tr.pin(deduped.join(flagged.select("doc_id"), "doc_id", "left_anti"))
        with tr.span("packing"):
            train = split(clean, "doc_id", self.SPLITS)["train"].withColumn(
                "n_tokens", token_count("text").cast("long"))
            packed = pack_documents(train, "doc_id", "n_tokens", self.MAX_TOKENS,
                                    partitions=self.cores)
            corpus = tr.pin(packed.join(train.select("doc_id", "text"), "doc_id"))
        shards = str(out / "shards")
        with tr.span("shards.write"):
            write_shards(corpus, shards, "doc_id", self.N_SHARDS, sort_col="doc_id")
        with tr.span("shards.verify"):
            verified = verify_shards(self.spark, shards)
        if tr.enabled:
            with tr.span("probe.curate"):
                n_docs = self.rows["documents"]
                tr.note("quality.kept_ratio", good.count() / n_docs)
                tr.note("decontam.flagged_docs", deduped.count() - clean.count())
                cand = minhash_lsh_candidates(uniq, "doc_id", "text")
                n_cand = cand.count()
                kept = ngram_jaccard_pairs(uniq, "doc_id", "text", cand).where(
                    F.col("jaccard") >= self.DEDUP_THRESHOLD).count()
                tr.note("dedup.candidates", n_cand)
                tr.note("dedup.verified_ratio", kept / n_cand if n_cand else 0.0)
                tr.note("packing.fill_ratio", packing_stats(
                    corpus, "n_tokens", self.MAX_TOKENS).collect()[0]["mean_fill"])
        return {"verified": verified}

    def check(self, out: Path, res: dict) -> list[tuple[str, bool]]:
        shards = out / "shards"
        manifest = json.loads((shards / "_shards.json").read_text())
        declared = sum(s["n_rows"] for s in manifest["shards"].values())
        bins = self.spark.read.parquet(str(shards)).groupBy("bin_id").agg(
            F.sum("n_tokens").alias("t"), F.count(F.lit(1)).alias("n"))
        got = bins.agg(
            F.sum("n").alias("rows"),
            F.sum(F.when((F.col("t") > self.MAX_TOKENS) & (F.col("n") > 1), 1)
                  .otherwise(0)).alias("overfull"),
        ).collect()[0]
        return [
            ("curate.verify_shards", bool(res["verified"])
             and all(res["verified"].values())),
            ("curate.bins_within_max_tokens", got["overfull"] == 0),
            # the manifest counts the pipeline's output frame; the shards
            # hold what was written
            ("curate.shard_rows", got["rows"] == declared and declared > 0),
        ]

    def layer_metrics(self, tr, out, res, layers) -> dict[str, float]:
        m = tr.notes.copy()
        m.update({
            "quality.s": layers["quality"]["wall_s"],
            "dedup.minhash_s": layers["dedup.minhash"]["wall_s"],
            "decontam.s": layers["decontam"]["wall_s"],
            "packing.s": layers["packing"]["wall_s"],
            "shards.write_s": layers["shards.write"]["wall_s"],
            "shards.verify_s": layers["shards.verify"]["wall_s"],
            "shards.bytes": float(tree_bytes(out / "shards")[0]),
        })
        return m


# ------------------------------------------------------------ vectors
class Vectors(Workload):
    """kNN join, semantic dedup and image dedup, results to parquet."""

    name = "vectors"
    EMB_SCALE = 0.75  # generate_embeddings scale: 2000 vectors x scale
    IMAGES = 600
    K = 10

    def generate(self, root: Path, seed: int) -> None:
        with contextlib.redirect_stdout(io.StringIO()):
            gen_sf.generate_embeddings(str(root), self.EMB_SCALE, seed)
        self.emb = root / "embeddings.parquet"
        rng = np.random.default_rng(seed + 3)
        ids = np.sort(rng.choice(20 * self.IMAGES, self.IMAGES, replace=False))
        self.images = root / "images.parquet"
        id_df = self.spark.createDataFrame([(int(i),) for i in ids], "doc_id long")
        multimodal.synthetic_image_corpus(id_df).write.parquet(str(self.images))
        self.rows = {"embeddings": parquet_rows(self.emb), "images": self.IMAGES}
        self.in_rows = sum(self.rows.values())
        self.in_bytes = tree_bytes(self.emb)[0] + tree_bytes(self.images)[0]

    def run(self, tr, out: Path) -> dict:
        emb = self.spark.read.parquet(str(self.emb))
        with tr.span("similarity"):
            knn_join(emb, emb, "vec_id", "embedding", k=self.K, exclude_self=True,
                     scoring="arrow").write.parquet(str(out / "knn"))
        with tr.span("semdedup"):
            semantic_dedup(emb, "vec_id", "embedding", num_clusters=None) \
                .select("vec_id").write.parquet(str(out / "semdedup"))
        with tr.span("multimodal"):
            flags = multimodal.image_dedup_flags(self.spark.read.parquet(str(self.images)))
            flags.drop("payload").write.parquet(str(out / "images"))
        return {}

    def check(self, out: Path, res: dict) -> list[tuple[str, bool]]:
        knn = self.spark.read.parquet(str(out / "knn"))
        got = knn.agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum((F.col("query_id") == F.col("neighbor_id")).cast("int")).alias("self"),
        ).collect()[0]
        return [
            ("vectors.knn_rows", got["rows"] == self.rows["embeddings"] * self.K),
            ("vectors.knn_no_self_pairs", (got["self"] or 0) == 0),
        ]

    def layer_metrics(self, tr, out, res, layers) -> dict[str, float]:
        kept = self.spark.read.parquet(str(out / "semdedup")).count()
        return {
            "similarity.knn_s": layers["similarity"]["wall_s"],
            "semdedup.s": layers["semdedup"]["wall_s"],
            "semdedup.removed_ratio": 1.0 - kept / self.rows["embeddings"],
            "multimodal.image_dedup_s": layers["multimodal"]["wall_s"],
        }


class Composite(Workload):
    """Its ``PARTS`` run one after another in one iteration, so they
    share one session start and one warm-up."""

    PARTS: tuple[type[Workload], ...] = ()

    def __init__(self, spark, cores: int):
        super().__init__(spark, cores)
        self.parts = [p(spark, cores) for p in self.PARTS]

    def generate(self, root: Path, seed: int) -> None:
        for p in self.parts:
            p.generate(root / p.name, seed)
            self.rows.update({f"{p.name}.{k}": v for k, v in p.rows.items()})
        self.in_rows = sum(p.in_rows for p in self.parts)
        self.in_bytes = sum(p.in_bytes for p in self.parts)

    def run(self, tr, out: Path) -> dict:
        return {p.name: p.run(tr, out / p.name) for p in self.parts}

    def check(self, out: Path, res: dict) -> list[tuple[str, bool]]:
        return [c for p in self.parts for c in p.check(out / p.name, res[p.name])]

    def final_check(self, out: Path, res: dict) -> list[tuple[str, bool]]:
        return [c for p in self.parts
                for c in p.final_check(out / p.name, res[p.name])]

    def layer_metrics(self, tr, out, res, layers) -> dict[str, float]:
        m: dict[str, float] = {}
        for p in self.parts:
            m.update(p.layer_metrics(tr, out / p.name, res[p.name], layers))
        return m


class DumpSync(Composite):
    name = "dump_sync"
    why = ("paradump then parasync end to end: render and file sinks with no "
           "shuffle, then full-outer-join diffs with a tiny output")
    PARTS = (Dump, Sync)
    # its iteration time still falls steeply after the first warm one
    # (JIT); a second warm-up measures it where the curve is flatter, and
    # the median of three of its short iterations absorbs one outlier
    WARMUP = 2
    SAMPLES = 3


class CurateVectors(Composite):
    name = "curate_vectors"
    why = ("text curation pipeline, then kNN, semantic and image dedup: many "
           "short jobs, Python/Arrow UDFs and cogroups; render and diff bypassed")
    PARTS = (Curate, Vectors)


WORKLOADS = {w.name: w for w in (DumpSync, CurateVectors)}
