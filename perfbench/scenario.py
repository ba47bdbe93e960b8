"""One benchmark run: set-up, the timed phases, and the correctness checks.

A run is one process and one JVM at local[nproc], with one client thread.
It drives the program only through public functions:

  build   streaming.apply_batch on the seeded corpus. The first micro-batch
          bootstraps the dedup run: run_pipeline(extensions=True) over the
          whole corpus, then the images stage write.
  ingest  one more micro-batch through streaming.apply_batch: an
          incremental append, a third of it near-duplicates of base images.
  lookups a burst of similarity lookups against the appended catalog, each
          collected to the driver: stages.query.query on corpus ids and
          stages.query.query_image on new images, about 3:1.
  ops     one pass over operator queries from __spark_entry__.queries(),
          each collected to the driver and compared with its oracle_sql()
          twin on DuckDB.

Correctness checks never run inside a timed region. Every failed check
counts as a failed operation.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import time

from perfbench import inputs

# Operator queries of the ops phase, from the headline list of bench.py: the
# exact-Jaccard verify of the dedup ladder (minhash_dedup) and the embedding
# near-dup dispatcher (cosine_neardup). The rest of the 18 headline queries
# do not fit the time budget next to the build and ingest phases. The oracle
# texts of these two do not depend on the tables (inputs.oracle_texts caches
# them per program source).
OPS_QUERIES = ("minhash_dedup", "cosine_neardup")

# base images bootstrapped into a throwaway catalog during set-up
WARM_ROWS = 50

# largest difference allowed between a lookup's similarity and the weighted
# Jaccard recomputed in NumPy from the collected bags
SIM_TOL = 1e-9

# dup-pair recall and precision against the planted clusters (ROADMAP aim 3
# keeps recall >= 0.99); a lower score fails the run's correctness check
MIN_PAIR_SCORE = 0.99


class Run:
    """State of one run: the session, its scratch directories, the timing
    samples, and the tally of attempted and failed operations."""

    def __init__(self, work_dir: str, seed: int, params: dict):
        from apollo_spark.config import PipelineConfig
        self.spark = None
        self.work_dir = work_dir
        self.seed = seed
        self.params = params
        self.cfg = PipelineConfig()
        self.out_dir = os.path.join(work_dir, "ckpt")
        self.samples: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.info: dict = {}
        self.span = lambda name: contextlib.nullcontext()

    # -- bookkeeping -----------------------------------------------------
    def sample(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(value)

    def check(self, ok: bool, what: str) -> bool:
        """Count one operation; a failed check marks it failed."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)
        return ok

    # -- phases ----------------------------------------------------------
    def warm_up(self) -> None:
        """Start the Python workers and import the kernels' modules in them,
        then bootstrap a throwaway catalog from the first WARM_ROWS base
        images: the timed build then meets a JVM whose JIT, codegen cache
        and worker pool are warm, which is what a long-lived service sees.
        Cold-start cost varied by a quarter from run to run."""
        from apollo_spark.streaming import apply_batch
        cores = self.spark.sparkContext.defaultParallelism

        def touch(it):
            import numpy  # noqa: F401
            import pyarrow  # noqa: F401

            from apollo_spark.stages import bags, candidates, hashst  # noqa
            for pdf in it:
                yield pdf

        (self.spark.range(cores * 4, numPartitions=cores)
         .mapInPandas(touch, "id long")
         .write.format("noop").mode("overwrite").save())
        warm_dir = os.path.join(self.work_dir, "warm")
        warm = self.batch_frames[0].limit(WARM_ROWS)
        apply_batch(self.spark, warm, self.cfg, warm_dir)
        # one id lookup, so the timed ones meet warm code paths
        self._lookup(warm_dir, [("id", warm.first()["image_id"], None)])
        shutil.rmtree(warm_dir, ignore_errors=True)

    def load_inputs(self) -> None:
        """Generate (or read the cached) inputs; no Spark involved."""
        p = self.params
        self.images_in = inputs.images(p["base_rows"], p["batch_rows"],
                                       p["lookups"], self.seed)
        self.info["input_hash"] = {"images": self.images_in["hash"]}
        self.truth = self.images_in["tables"]["images"][
            ["image_id", "gt_cluster", "batch"]]
        self.lookup_plan = list(self.images_in["tables"]["lookups"]
                                .itertuples(index=False, name=None))

    def load_ops_inputs(self) -> None:
        p = self.params
        self.ops_in = inputs.ops_tables(p["docs"], p["vecs"], self.seed)
        self.info["input_hash"]["ops"] = self.ops_in["hash"]
        self.oracle = inputs.oracle_texts(OPS_QUERIES, self.ops_in["dir"])

    IMAGE_COLS = ["image_id", "bytes", "w", "h", "fmt", "caption", "phash"]

    def frames(self) -> None:
        images = self.images_in["tables"]["images"]
        self.batch_frames = [
            self.spark.createDataFrame(
                images[images["batch"] == k][self.IMAGE_COLS])
            for k in (-1, 0)]
        q = self.images_in["tables"]["query_images"]
        self.query_frames = {
            qid: self.spark.createDataFrame(q.iloc[[i]][self.IMAGE_COLS])
            for i, qid in enumerate(q["image_id"])}

    def build(self) -> None:
        from apollo_spark.streaming import apply_batch
        base = self.batch_frames[0]
        n = int((self.truth["batch"] == -1).sum())
        t0 = time.perf_counter()
        got = apply_batch(self.spark, base, self.cfg, self.out_dir)
        wall = time.perf_counter() - t0
        self.check(got == "bootstrap", f"bootstrap returned {got!r}")
        self.sample("build_s", wall)
        self.sample("build_images_per_s", n / wall)

    def ingest(self) -> None:
        from apollo_spark.streaming import apply_batch
        t0 = time.perf_counter()
        got = apply_batch(self.spark, self.batch_frames[1], self.cfg,
                          self.out_dir)
        self.sample("ingest_batch_s", time.perf_counter() - t0)
        self.check(got == "append", f"micro-batch returned {got!r}")

    def lookups(self) -> None:
        plan = [(kind, qid, self.query_frames.get(qid))
                for kind, qid in self.lookup_plan]
        self.lookup_results = self._lookup(self.out_dir, plan, "query_ms")

    def _lookup(self, out_dir: str, plan: list, sample: str | None = None):
        """Run lookups against the catalog at ``out_dir``, each collected to
        the driver; ``plan`` holds ("id", corpus id, None) and ("image",
        new image id, its 1-row frame) steps. The catalog is loaded once per
        burst, as a service would after each append.
        -> [(kind, qid, collected result)]"""
        from apollo_spark.checkpoint import CheckpointCatalog
        from apollo_spark.stages import query
        cat = CheckpointCatalog(self.spark, out_dir, self.cfg)
        bands, bags, vocab = (cat.load(s) for s in ("bands", "bags", "vocab"))
        ndocs = int(cat.stage_info("vocab")["ndocs"])
        out = []
        for kind, qid, image in plan:
            t0 = time.perf_counter()
            with self.span("query.lookup"):
                if kind == "id":
                    res = query.query(bands, bags, qid)
                else:
                    res = query.query_image(image, vocab, ndocs, bands, bags,
                                            self.cfg)
                got = res.toPandas()
            if sample:
                self.sample(sample, (time.perf_counter() - t0) * 1e3)
            out.append((kind, qid, got))
        return out

    def ops(self) -> None:
        import __spark_entry__ as entry
        sf_dir = self.ops_in["dir"]
        qmap = entry.queries()
        self.ops_results = {}
        t_pass = time.perf_counter()
        for name in OPS_QUERIES:
            t0 = time.perf_counter()
            with self.span(f"ops.{name}"):
                self.ops_results[name] = \
                    qmap[name](self.spark, sf_dir).toPandas()
            self.sample(f"ops.{name}_s", time.perf_counter() - t0)
        self.sample("ops_s", time.perf_counter() - t_pass)

    # -- checks ----------------------------------------------------------
    def check_clusters(self) -> None:
        """Every input image is in exactly one component, the clusters table
        agrees with cc, and planted pairs are scored against cc."""
        from apollo_spark.checkpoint import CheckpointCatalog
        cat = CheckpointCatalog(self.spark, self.out_dir, self.cfg)
        cc = cat.load("cc").select("image_id", "cc_id").toPandas()
        cl = cat.load("clusters").select("image_id", "rep").toPandas()
        want = set(self.truth["image_id"])
        self.check(len(cc) == len(want) and set(cc["image_id"]) == want,
                   f"cc holds {len(cc)} rows for {len(want)} images")
        multi = cc[cc.groupby("cc_id")["image_id"].transform("size") > 1]
        joined = cl.merge(cc, on="image_id", how="left")
        self.check(cl["image_id"].is_unique and len(cl) == len(multi)
                   and bool((joined["rep"] == joined["cc_id"]).all()),
                   "clusters table disagrees with cc")
        planted = inputs.group_pairs(self.truth["image_id"].to_numpy(),
                                       self.truth["gt_cluster"].to_numpy())
        found = inputs.group_pairs(cc["image_id"].to_numpy(),
                                     cc["cc_id"].to_numpy())
        self.found_pairs = found
        hit = len(planted & found)
        recall = hit / max(len(planted), 1)
        precision = hit / max(len(found), 1)
        self.info["pairs"] = {"planted": len(planted), "found": len(found),
                              "hit": hit, "recall": recall,
                              "precision": precision}
        self.check(recall >= MIN_PAIR_SCORE,
                   f"pair recall {recall:.4f} < {MIN_PAIR_SCORE}")
        self.check(precision >= MIN_PAIR_SCORE,
                   f"pair precision {precision:.4f} < {MIN_PAIR_SCORE}")

    def check_rebuild(self) -> int:
        """Traced runs only: rebuild the final corpus from scratch and count
        the dup pairs on which it and the incremental state disagree."""
        from apollo_spark.pipeline import run_pipeline
        images = self.batch_frames[0].unionByName(self.batch_frames[1])
        res = run_pipeline(self.spark, images, self.cfg,
                           os.path.join(self.work_dir, "rebuild"))
        cc = res["cc"].select("image_id", "cc_id").toPandas()
        diff = len(self.found_pairs ^ inputs.group_pairs(
            cc["image_id"].to_numpy(), cc["cc_id"].to_numpy()))
        self.check(diff == 0, f"append and rebuild differ on {diff} pairs")
        return diff

    def check_lookups(self) -> None:
        """Each lookup leaves out its own id, returns corpus ids only, and
        its similarities equal the weighted Jaccard recomputed in NumPy from
        the collected bags (for a new image, from the bag the program's
        bags stage gives it against the saved vocabulary)."""
        from apollo_spark.checkpoint import CheckpointCatalog
        from apollo_spark.stages import bags as bags_stage
        cat = CheckpointCatalog(self.spark, self.out_dir, self.cfg)
        bags = cat.load("bags").select("image_id", "feat_hash", "weight") \
            .toPandas()
        bags["weight"] = bags["weight"].astype("float64")
        vocab = cat.load("vocab")
        ndocs = int(cat.stage_info("vocab")["ndocs"])
        corpus = set(self.truth["image_id"])
        found = []
        for kind, qid, got in self.lookup_results:
            if kind == "id":
                qbag = bags[bags["image_id"] == qid]
            else:
                img = self.query_frames[qid]
                qbag = bags_stage.tfidf_with_vocab(
                    bags_stage.extract_features(img, self.cfg, widen=False),
                    vocab, ndocs, self.cfg).select("feat_hash", "weight") \
                    .toPandas().astype({"weight": "float64"})
                src = self.images_in["tables"]["query_images"] \
                    .set_index("image_id").at[qid, "source"]
                found.append(src in set(got["image_id"]))
            ids = set(got["image_id"])
            self.check(qid not in ids and ids <= corpus,
                       f"lookup {qid}: own id or a non-corpus id returned")
            want = _weighted_jaccard(qbag, bags[bags["image_id"].isin(ids)])
            diff = (got.set_index("image_id")["sim"]
                    - want.reindex(got["image_id"]).to_numpy()).abs()
            self.check(len(got) == 0 or float(diff.max()) <= SIM_TOL,
                       f"lookup {qid}: similarity off by "
                       f"{float(diff.max()) if len(got) else 0:.3g}")
        self.info["lookups"] = {
            "n": len(self.lookup_results),
            "candidates": sum(len(g) for _, _, g in self.lookup_results),
            "rows": [len(g) for _, _, g in self.lookup_results],
            "hits": sum(int((g["sim"] >= self.cfg.threshold).sum())
                        for _, _, g in self.lookup_results),
            "image_source_found": sum(found), "image_lookups": len(found),
            "p50_ms": statistics.median(self.samples["query_ms"])}

    def check_ops(self) -> None:
        import duckdb

        from tools.check_entry import compare
        sf_dir = self.ops_in["dir"]
        con = duckdb.connect()
        try:
            for t in ("documents", "embeddings"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{sf_dir}/{t}.parquet'")
            for name, got in self.ops_results.items():
                errs = compare(name, got,
                               con.execute(self.oracle[name]).fetchdf())
                self.check(not errs, f"ops {name}: {errs[:2]}")
        finally:
            con.close()


def _weighted_jaccard(qbag, cbags):
    """-> Series image_id -> sum(min(wq, wc)) / (Wq + Wc - sum(min)) of the
    query bag against each candidate's bag (feat_hash, weight rows)."""
    wq = float(qbag["weight"].sum())
    inter = (cbags.merge(qbag[["feat_hash", "weight"]], on="feat_hash",
                         suffixes=("", "_q"))
             .assign(m=lambda d: d[["weight", "weight_q"]].min(axis=1))
             .groupby("image_id")["m"].sum())
    wc = cbags.groupby("image_id")["weight"].sum()
    inter = inter.reindex(wc.index, fill_value=0.0)
    return inter / (wc + wq - inter)
