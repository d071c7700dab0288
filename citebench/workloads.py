"""The citebench workloads (``run.py`` drives them).

Every workload drives the package only through ``api.*``,
``plans.registry.get_queries()`` / ``get_oracles()`` and
``session.get_spark()``. Each op is timed from outside; each layer call
inside it is wrapped in a span (see ``spans.py``) that records nothing
unless the op is traced.

* ``ingest_nightly`` (1 client): a JSONL batch -> raw zone -> in-batch
  near-duplicate removal -> upsert into the papers table -> embed and
  append to the embeddings table. An untimed step restores the lake
  to its base state between ops.
* ``lake_analytics`` (1 client): a fixed rotation of registry queries
  and graph operators over an immutable generated lake. Warm-up results
  are checked against the DuckDB oracles and numpy/pandas references
  (``ann_ivf_topk`` has none); each timed op must reproduce its
  warm-up result. Float cells may differ by a rounding tie
  (``same_result``); every other cell must be equal.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np

import gen
from spans import Tracer

NEAR_DUP_JACCARD = 0.8
ROTATION = (
    "papers_pipeline_e2e",
    "chunk_documents",
    "neardup_components",
    "cosine_topk",
    "tfidf_top_terms",
    "sessionize_events",
    "mitigation_recommendations",
    "ann_ivf_topk",
    "graph.pagerank",
    "graph.h_index",
)
REGISTRY_QUERIES = tuple(n for n in ROTATION if not n.startswith("graph."))
PAGERANK_DAMPING = 0.85
PAGERANK_ITERATIONS = 5


class CheckFailed(Exception):
    pass


def _dir_files(root: str) -> dict:
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def _data_files(root: str) -> list[str]:
    """Data files under ``root``: Spark's checksum and marker files
    start with ``.`` or ``_``."""
    return [
        p
        for p in _dir_files(root)
        if not os.path.basename(p).startswith((".", "_"))
    ]


class Result:
    """A query result in canonical form: columns sorted by name, cells
    as strings (floats rounded to 6 places, NULLs spelled out), rows
    sorted; ``floats`` holds the columns with a float cell."""

    def __init__(self, pdf):
        import pandas as pd

        self.cols = sorted(pdf.columns)
        self.floats: set[str] = set()
        rows = []
        for row in pdf[self.cols].itertuples(index=False):
            vals = []
            for c, v in zip(self.cols, row):
                if isinstance(v, (list, tuple, np.ndarray)):
                    vals.append(
                        str([round(float(x), 6) if isinstance(x, (float, np.floating)) else x for x in v])
                    )
                elif v is None or pd.isna(v):
                    vals.append("NULL")
                elif isinstance(v, (float, np.floating)):
                    self.floats.add(c)
                    vals.append(f"{round(float(v), 6):.6f}")
                else:
                    vals.append(str(v))
            rows.append(tuple(vals))
        rows.sort()
        self.rows = rows
        self.hash = hashlib.sha256("\n".join("|".join(r) for r in rows).encode()).hexdigest()


def _float_cells_agree(a: str, b: str) -> bool:
    """Two float cells agree if equal to 1e-9 (relative), or if both
    carry at most ``d`` decimals and differ by one unit in the ``d``-th
    place. That is ``ROUND(x, d)`` of an exact decimal tie, which
    engines settle differently: DuckDB rounds the binary double
    (72.57655 is stored as 72.576549999... and rounds to 72.5765),
    Spark the decimal value (72.5766), and a sum in another order can
    move the double to either side of the tie."""
    if a == b:
        return True
    if "NULL" in (a, b):
        return False
    x, y = float(a), float(b)
    diff, scale = abs(x - y), max(1.0, abs(x), abs(y))
    if diff <= 1e-9 * scale:
        return True
    for d in range(1, 7):
        unit = 10.0**-d
        if abs(diff - unit) <= 1e-9 * scale and all(
            abs(v / unit - round(v / unit)) <= 1e-6 for v in (x, y)
        ):
            return True
    return False


def same_result(got: Result, want: Result) -> str | None:
    """``None`` if ``got`` matches ``want``, else what differs. Cells
    outside float columns must be equal; float cells must agree
    (:func:`_float_cells_agree`). Rows are paired after sorting on the
    other columns first, then on the float values."""
    if got.hash == want.hash:
        return None
    if got.cols != want.cols:
        return f"columns {got.cols} != {want.cols}"
    if len(got.rows) != len(want.rows):
        return f"{len(got.rows)} rows != {len(want.rows)}"
    fl = [i for i, c in enumerate(got.cols) if c in got.floats | want.floats]
    other = [i for i in range(len(got.cols)) if i not in fl]

    def key(row):
        return (
            [row[i] for i in other],
            [(row[i] == "NULL", 0.0 if row[i] == "NULL" else float(row[i])) for i in fl],
        )

    for g, w in zip(sorted(got.rows, key=key), sorted(want.rows, key=key)):
        if any(g[i] != w[i] for i in other) or not all(
            _float_cells_agree(g[i], w[i]) for i in fl
        ):
            return f"row {'|'.join(g)} != {'|'.join(w)}"
    return None


def reference_pagerank(citations) -> dict:
    """PageRank by numpy with the operator's conventions: duplicate
    edges collapse, rank starts at 1.0, dangling vertices keep their
    inflow, ``rank = (1 - d) + d * sum(rank(u) / outdeg(u))``."""
    e = citations[["citing", "cited"]].drop_duplicates()
    verts = np.unique(np.concatenate([e.citing.to_numpy(), e.cited.to_numpy()]))
    src = np.searchsorted(verts, e.citing.to_numpy())
    dst = np.searchsorted(verts, e.cited.to_numpy())
    w = 1.0 / np.bincount(src, minlength=len(verts))[src]
    rank = np.ones(len(verts))
    for _ in range(PAGERANK_ITERATIONS):
        contrib = np.bincount(dst, weights=rank[src] * w, minlength=len(verts))
        rank = (1.0 - PAGERANK_DAMPING) + PAGERANK_DAMPING * contrib
    return dict(zip(verts.tolist(), rank.tolist()))


def reference_h_index(citations):
    """(entity, h_index, n_items, total_refs) per author by pandas."""
    c = citations.groupby(["author", "cited"]).size().rename("c").reset_index()
    c = c.sort_values(["author", "c", "cited"], ascending=[True, False, True])
    c["rn"] = c.groupby("author").cumcount() + 1
    c["h"] = np.where(c.c >= c.rn, c.rn, 0)
    out = c.groupby("author").agg(h_index=("h", "max"), n_items=("c", "size"), total_refs=("c", "sum"))
    return out.reset_index().rename(columns={"author": "entity"})


class Workload:
    """One workload: inputs, package set-up, warm-up and ops.

    ``setup`` and ``warmup`` are timed as set-up and ``op`` as an op;
    ``generate``, ``reset``, ``prepare``, ``settle``, ``check`` and
    ``between`` run untimed. ``check`` raises :class:`CheckFailed` on
    a wrong output."""

    name = ""
    unit_ops = 1  # ops per tracing unit (traced and untraced units alternate)
    min_units = 1  # units a run measures at least

    def __init__(self, seed: int, work: str, tracer: Tracer):
        self.seed = seed
        self.work = work
        self.inputs = os.path.join(work, "inputs")
        self.lake = os.path.join(work, "lake")
        self.tr = tracer
        self.spark = None

    def generate(self) -> None:
        raise NotImplementedError

    def reset(self) -> None:
        shutil.rmtree(self.lake, ignore_errors=True)
        os.makedirs(self.lake)

    def setup(self) -> None:
        pass

    def prepare(self) -> None:
        pass

    def warmup(self, traced: bool):
        raise NotImplementedError

    def settle(self, warm, last: bool) -> None:
        pass

    def op(self, i: int, traced: bool):
        raise NotImplementedError

    def check(self, i: int, out) -> None:
        pass

    def between(self, i: int) -> None:
        pass

    def extra_metrics(self, ops: list) -> dict:
        return {}


# ---------------------------------------------------------------- ingest


class IngestNightly(Workload):
    name = "ingest_nightly"
    min_units = 3

    def generate(self) -> None:
        self.base = gen.ingest_base(self.seed, os.path.join(self.inputs, "base"))
        self.batches: dict = {}
        self._next_batch(0)

    def _next_batch(self, k: int) -> dict:
        if k not in self.batches:
            d = os.path.join(self.inputs, f"batch-{k:04d}")
            self.batches[k] = (d, gen.ingest_batch(self.seed, k, self.base, d))
        return self.batches[k]

    @property
    def zone(self):
        return os.path.join(self.lake, "raw")

    @property
    def papers(self):
        return os.path.join(self.lake, "papers")

    @property
    def embeddings(self):
        return os.path.join(self.lake, "embeddings")

    def setup(self) -> None:
        """Base-lake ingest: land the base shard, upsert it into the
        (new) papers table, embed it into the embeddings table."""
        from citeconnect_datapipeline_spark import api

        spark, tr = self.spark, self.tr
        with tr.span("sources.ingest", tr.enabled):
            api.sources.ingest_jsonl_to_zone(
                spark, os.path.join(self.inputs, "base"), self.zone, "base"
            )
        docs = api.sinks.read_zone(spark, self.zone, run_id="base").drop("run_id")
        with tr.span("sinks.upsert", tr.enabled):
            api.sinks.upsert_parquet(spark, docs, self.papers, "doc_id")
        with tr.span("similarity.embed", tr.enabled):
            self._embed(docs, "overwrite")

    def _embed(self, docs, mode: str) -> None:
        from pyspark.sql import functions as F

        from citeconnect_datapipeline_spark import api

        emb = api.similarity.embed_with_model(
            docs, api.similarity.HashProjectionModel.factory()
        )
        emb.select(
            F.col("doc_id").alias("vec_id"),
            "embedding",
            (F.col("doc_id") % gen.EMB_LABELS).cast("int").alias("label"),
        ).write.mode(mode).parquet(self.embeddings)

    def prepare(self) -> None:
        """Keep the base lake so ``between`` can restore it."""
        self.pristine = os.path.join(self.work, "pristine")
        shutil.rmtree(self.pristine, ignore_errors=True)
        shutil.copytree(self.lake, self.pristine)
        self.before = _dir_files(self.lake)

    def restore(self) -> None:
        shutil.rmtree(self.lake)
        shutil.copytree(self.pristine, self.lake)
        self.before = _dir_files(self.lake)

    def warmup(self, traced: bool):
        return self.op(-1, traced)

    def settle(self, warm, last: bool) -> None:
        try:
            self.check(-1, warm)
        finally:
            self.restore()
            self._next_batch(1)

    def op(self, i: int, traced: bool):
        from pyspark.sql import functions as F

        from citeconnect_datapipeline_spark import api

        spark, tr = self.spark, self.tr
        path, manifest = self._next_batch(i + 1)
        run_id = f"b{i + 1:05d}"
        with tr.span("sources.ingest", traced) as s:
            landed = api.sources.ingest_jsonl_to_zone(spark, path, self.zone, run_id)
            if s:
                s.attrs["rows_quarantined"] = landed["n_quarantined"]
        docs = api.sinks.read_zone(spark, self.zone, run_id=run_id).drop("run_id")
        with tr.span("dedup.pairs", traced) as s:
            row = (
                api.dedup.jaccard_scored_pairs(docs)
                .agg(
                    F.count("*").alias("candidates"),
                    # exact duplicate lines score as self-pairs; the
                    # upsert's in-frame dedup removes those
                    F.collect_list(
                        F.when(
                            (F.col("jaccard") >= NEAR_DUP_JACCARD)
                            & (F.col("doc_a") < F.col("doc_b")),
                            F.array("doc_a", "doc_b"),
                        )
                    ).alias("pairs"),
                )
                .first()
            )
            if s:
                s.attrs["candidate_pairs"] = row.candidates
                s.attrs["confirmed_ratio"] = len(row.pairs) / max(row.candidates, 1)
        pairs = sorted([int(a), int(b)] for a, b in row.pairs)
        drop = sorted({b for _, b in pairs})
        kept = docs.filter(~F.col("doc_id").isin(drop)) if drop else docs
        with tr.span("sinks.upsert", traced) as s:
            inserted = api.sinks.upsert_parquet(spark, kept, self.papers, "doc_id")
            if s:
                s.attrs["inserted_ratio"] = inserted / max(landed["n_valid"], 1)
        with tr.span("similarity.embed", traced):
            # embed the papers the lake has no vector for yet
            have = spark.read.parquet(self.embeddings).select(
                F.col("vec_id").alias("doc_id")
            )
            papers = spark.read.parquet(self.papers)
            self._embed(papers.join(have, "doc_id", "left_anti"), "append")
        return {"landed": landed, "pairs": pairs, "inserted": inserted, "batch": manifest}

    def check(self, i: int, out) -> None:
        m = out["batch"]
        found = {tuple(p) for p in out["pairs"]}
        planted = {tuple(p) for p in m["near_dup_pairs"]}
        files = _dir_files(self.lake)
        written = [p for p, st in files.items() if self.before.get(p) != st]
        out["bytes_written"] = sum(files[p][0] for p in written)
        papers = _data_files(self.papers)  # the upsert rewrites every file
        for s in self.tr.op_spans(i):
            if s.name == "sinks.upsert":
                s.attrs["bytes_written"] = sum(files[p][0] for p in papers)
                s.attrs["files_written"] = len(papers)
        errors = []
        if out["landed"]["n_quarantined"] != m["malformed"]:
            errors.append(f"quarantined {out['landed']['n_quarantined']} != {m['malformed']}")
        if not planted <= found:
            errors.append(f"near-dup pairs missed: {sorted(planted - found)[:3]}")
        if out["inserted"] != m["new_keys"]:
            errors.append(f"inserted {out['inserted']} != {m['new_keys']}")
        n_papers = self.spark.read.parquet(self.papers).count()
        n_vectors = self.spark.read.parquet(self.embeddings).count()
        want = self.base["docs"] + m["new_keys"]
        if n_papers != want or n_vectors != want:
            errors.append(f"papers {n_papers} / vectors {n_vectors} != {want}")
        if errors:
            raise CheckFailed("; ".join(errors))

    def between(self, i: int) -> None:
        self.restore()
        self._next_batch(i + 2)

    def extra_metrics(self, ops: list) -> dict:
        done = [o for o in ops if o["out"] is not None]
        if not done:
            return {}
        busy = sum(o["latency"] for o in done)
        docs = sum(o["out"]["batch"]["lines"] for o in done)
        jsonl = sum(o["out"]["batch"]["jsonl_bytes"] for o in done)
        written = sum(o["out"].get("bytes_written", 0) for o in done)
        return {"docs_per_s": docs / busy, "write_amp": written / jsonl}


# ------------------------------------------------------------- analytics


class LakeAnalytics(Workload):
    name = "lake_analytics"
    unit_ops = len(ROTATION)

    def generate(self) -> None:
        gen.lake_inputs(self.seed, self.inputs)
        self.expected: dict = {}

    def setup(self) -> None:
        from citeconnect_datapipeline_spark.plans.registry import get_queries

        self.queries = get_queries()
        self.edges = self.spark.read.parquet(os.path.join(self.inputs, "citations.parquet"))

    def _run(self, name: str, traced: bool):
        from pyspark.sql import functions as F

        from citeconnect_datapipeline_spark import api

        if name == "graph.pagerank":
            with self.tr.span("graph.pagerank", traced):
                return api.graph.pagerank(
                    self.edges.select(F.col("citing").alias("src"), F.col("cited").alias("dst")),
                    damping=PAGERANK_DAMPING,
                    iterations=PAGERANK_ITERATIONS,
                ).toPandas()
        if name == "graph.h_index":
            with self.tr.span("graph.h_index", traced):
                return api.graph.h_index(self.edges, "author", "cited").toPandas()
        with self.tr.span(f"registry.query.{name}", traced):
            return self.queries[name](self.spark, self.inputs).toPandas()

    def warmup(self, traced: bool):
        return {name: self._run(name, traced) for name in ROTATION}

    def settle(self, warm, last: bool) -> None:
        """After the last set-up: every rotation query with a DuckDB
        oracle must match it on the generated lake, and the graph
        operators must match numpy/pandas references (see
        :func:`same_result`); the warm-up results become the expected
        results of the timed ops."""
        if not last:
            return
        import duckdb

        from citeconnect_datapipeline_spark.plans.registry import get_oracles

        oracles = get_oracles()
        con = duckdb.connect()
        con.execute("SET threads TO 4")
        for t in ("documents", "embeddings", "events"):
            p = os.path.join(self.inputs, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        citations = con.execute(
            f"SELECT * FROM read_parquet('{os.path.join(self.inputs, 'citations.parquet')}')"
        ).fetchdf()
        errors = []
        for name in ROTATION:
            got = Result(warm[name])
            if not got.rows:
                errors.append(f"{name}: empty result")
            want = None
            if name in oracles:
                want = Result(con.execute(oracles[name]).fetchdf())
            elif name == "graph.h_index":
                want = Result(reference_h_index(citations))
            elif name == "graph.pagerank":
                ref = reference_pagerank(citations)
                ranks = dict(zip(warm[name].v.tolist(), warm[name]["rank"].tolist()))
                if ranks.keys() != ref.keys() or max(abs(ranks[v] - ref[v]) for v in ref) > 1e-9:
                    errors.append(f"{name}: ranks differ from the numpy reference")
            diff = want and same_result(got, want)
            if diff:
                errors.append(f"{name}: differs from the reference: {diff}")
            self.expected[name] = got
        con.close()
        if errors:
            raise CheckFailed("; ".join(errors))

    def op(self, i: int, traced: bool):
        name = ROTATION[i % len(ROTATION)]
        return {"name": name, "pdf": self._run(name, traced)}

    def check(self, i: int, out) -> None:
        diff = same_result(Result(out.pop("pdf")), self.expected[out["name"]])
        if diff:
            raise CheckFailed(f"{out['name']}: differs from the warm-up result: {diff}")


WORKLOADS = {w.name: w for w in (IngestNightly, LakeAnalytics)}
