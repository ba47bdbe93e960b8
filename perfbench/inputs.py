"""Seeded inputs for the benchmark workloads, with their planted truth.

Every table is a pure function of (generator, size, seed). Tables are cached
under ``<checkout>/.perfbench/inputs`` keyed by that triple plus a digest of
the generator sources (this file and ``apollo_spark/synth.py``), so a change
to either regenerates instead of silently reusing stale rows. Each input set
carries a content hash; runs whose input hashes differ are never compared.

Generation time is never part of any reported metric.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil

import numpy as np
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".perfbench", "inputs")

# image ids of generated blocks are img<block*1000 + row>; the micro-batch's
# fresh rows come from blocks disjoint from the base corpus
_BATCH_BLOCK0 = 100_000


def _source_digest() -> str:
    h = hashlib.sha256()
    for path in (os.path.abspath(__file__),
                 os.path.join(ROOT, "apollo_spark", "synth.py")):
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def _content_hash(path: str) -> str:
    h = hashlib.sha256()
    for fn in sorted(os.listdir(path)):
        if fn.endswith(".parquet"):
            h.update(fn.encode())
            with open(os.path.join(path, fn), "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def cached(generator: str, size: str, seed: int, build) -> dict:
    """-> {"dir", "hash", "tables": {name: DataFrame}}; ``build()`` returns
    {name: DataFrame} and runs only on a cache miss. The hash covers the
    parquet bytes of every table."""
    key = f"{generator}-{size}-s{seed}-g{_source_digest()}"
    path = os.path.join(CACHE, key)
    meta_path = os.path.join(path, "meta.json")
    if not os.path.exists(meta_path):
        tables = build()
        tmp = path + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        for name, df in tables.items():
            df.to_parquet(os.path.join(tmp, f"{name}.parquet"), index=False)
        with open(os.path.join(tmp, "meta.json"), "w") as f:
            json.dump({"hash": _content_hash(tmp)}, f)
        shutil.rmtree(path, ignore_errors=True)
        os.replace(tmp, path)
    with open(meta_path) as f:
        digest = json.load(f)["hash"]
    tables = {fn[:-len(".parquet")]:
              pd.read_parquet(os.path.join(path, fn))
              for fn in sorted(os.listdir(path)) if fn.endswith(".parquet")}
    return {"dir": path, "hash": digest, "tables": tables}


# ------------------------------------------------------------------ images

def _blocks(n_rows: int, seed: int, block0: int = 0) -> pd.DataFrame:
    """FIXTURES-profile rows (~60% singletons, clusters of 2-8) from
    synth.gen_block; whole clusters never straddle blocks."""
    from apollo_spark import synth
    parts, left, b = [], n_rows, block0
    while left > 0:
        rows = min(synth.BLOCK, left)
        parts.append(synth.gen_block(b, seed, rows))
        left -= rows
        b += 1
    return pd.concat(parts, ignore_index=True)


def _near_dups(src: pd.DataFrame, rng: np.random.Generator,
               prefix: str) -> pd.DataFrame:
    """One near-duplicate per source row: the decoded pixels re-encoded or
    noised (<=2% of pixels), the caption with <=2 character edits. The copy
    keeps its source's gt_cluster."""
    from apollo_spark import synth
    from apollo_spark.functions import codecs, phash
    recs = []
    for j, row in enumerate(src.itertuples(index=False)):
        px = codecs.decode(row.bytes)
        if rng.random() < 0.5:
            px = synth._perturb(px, rng)
        fmt = "jpeg" if rng.random() < 0.5 else "png"
        data = codecs.encode(px, fmt, int(rng.integers(85, 96)))
        recs.append((f"{prefix}{j:05d}", data, row.w, row.h, fmt,
                     synth._edit_caption(row.caption, rng),
                     phash.phash64(codecs.decode(data)), row.gt_cluster))
    return pd.DataFrame(recs, columns=list(src.columns))


def images(n_base: int, batch_rows: int, n_lookups: int, seed: int) -> dict:
    """The dedup corpus and its lookups.

    ``images``: a FIXTURES-profile base and one micro-batch, a third of it
    near-duplicates of base images and the rest fresh rows with their own
    planted clusters. ``batch`` is -1 for the base and 0 for the
    micro-batch; ``gt_cluster`` is the planted truth.

    ``query_images``: new images for ``query_image``, each a near-duplicate
    of a base image (``source``) and in no batch.

    ``lookups``: the lookup sequence, ``n_lookups`` rows in seeded order. A
    lookup's latency depends on whether its band probe finds candidates
    (0.3 s without, 0.6 s with, 1.2 s for a new image on a 4-core host),
    so every seed asks the same mix: a quarter ``image`` lookups
    (``query_image`` on a row of ``query_images``), a quarter ``id``
    lookups on planted singletons (misses), and the rest ``id`` lookups on
    the micro-batch's near-duplicates, whose probe finds their source. The
    median then falls inside the middle group on every seed."""

    def build():
        rng = np.random.default_rng([seed, 7])
        base = _blocks(n_base, seed).assign(batch=-1)
        n_dup = batch_rows // 3
        fresh = _blocks(batch_rows - n_dup, seed, _BATCH_BLOCK0)
        src = base.iloc[rng.choice(len(base), n_dup, replace=False)]
        dups = _near_dups(src.drop(columns=["batch"]), rng, "dup-")
        batch = pd.concat([fresh, dups], ignore_index=True).assign(batch=0)
        corpus = pd.concat([base, batch], ignore_index=True)
        single = corpus.groupby("gt_cluster")["image_id"] \
            .transform("size").to_numpy() == 1
        n_img = n_miss = n_lookups // 4
        qsrc = base.iloc[rng.choice(len(base), n_img, replace=False)]
        qimg = _near_dups(qsrc.drop(columns=["batch"]), rng, "query-")
        qimg["source"] = qsrc["image_id"].to_numpy()
        ids = np.concatenate([
            rng.choice(corpus["image_id"].to_numpy()[single], n_miss,
                       replace=False),
            rng.choice(dups["image_id"].to_numpy(),
                       n_lookups - n_img - n_miss, replace=False)])
        lookups = pd.DataFrame({
            "kind": ["id"] * len(ids) + ["image"] * n_img,
            "qid": [*ids, *qimg["image_id"]]}) \
            .iloc[rng.permutation(n_lookups)].reset_index(drop=True)
        return {"images": corpus, "query_images": qimg, "lookups": lookups}

    return cached("images", f"n{n_base}+{batch_rows}-q{n_lookups}", seed,
                  build)


# ------------------------------------------------------------------ ops

# Profile of the testdata tables the operator queries are written for
# (documents and embeddings of sf0.01 and sf0.1; perfbench/README.md has the
# figures). The generator below reproduces it at a chosen size.
_OPS_WORDS = ("a agg batch big column customer data fast filter group hash "
              "join key line merge order part query row scan slow small sort "
              "spark stream table the value vector window").split()
_LANGS = np.array(["en", "zh", "es", "fr", "de"])
_LANG_P = np.array([0.41, 0.15, 0.15, 0.15, 0.14])
_NEAR_DUP_SHARE = 0.05   # docs that copy another doc's text + " dup"
_EMB_DIM = 64


def ops_tables(n_docs: int, n_vecs: int, seed: int) -> dict:
    """The documents and embeddings tables the operator queries read, in the
    schema and profile of the testdata tables (TESTDATA.md).

    documents(doc_id, text, lang, source, n_chars): 10-100 words drawn
    uniformly from a 30-word vocabulary; 5% of the docs are the text of
    another doc with " dup" appended (near-duplicates at word 5-shingle
    Jaccard 0.75-1.0; two copies of one source are exact duplicates, a copy
    of a copy ends in "dup dup"). embeddings(vec_id, 64-dim unit float32
    vector, label 0-9): independent Gaussian directions, no planted
    near-duplicates."""

    def build():
        rng = np.random.default_rng([seed, 11])
        texts = [" ".join(_OPS_WORDS[k] for k in rng.integers(
                     0, len(_OPS_WORDS), int(rng.integers(10, 101))))
                 for _ in range(n_docs)]
        n_dup = round(_NEAR_DUP_SHARE * n_docs)
        for i in rng.choice(n_docs, n_dup, replace=False):
            j = int(rng.integers(0, n_docs - 1))
            texts[i] = texts[j + (j >= i)] + " dup"
        docs = pd.DataFrame({
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": _LANGS[rng.choice(len(_LANGS), n_docs, p=_LANG_P)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
        })
        docs["n_chars"] = docs["text"].str.len().astype(np.int64)
        vec = rng.standard_normal((n_vecs, _EMB_DIM))
        vec /= np.linalg.norm(vec, axis=1, keepdims=True)
        emb = pd.DataFrame({
            "vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": list(vec.astype(np.float32)),
            "label": rng.integers(0, 10, n_vecs).astype(np.int32)})
        return {"documents": docs, "embeddings": emb}

    return cached("ops", f"d{n_docs}-e{n_vecs}", seed, build)


def oracle_texts(names: tuple, ops_dir: str) -> dict[str, str]:
    """The oracle_sql() twins of ``names``. Building every oracle text takes
    seconds (some embed literals computed from the tables), so the texts of
    ``names`` are cached per program source. Only data-independent texts
    may be listed: the first ops tables seen fill the cache."""
    h = hashlib.sha256()
    for path in sorted([os.path.join(ROOT, "__spark_entry__.py"),
                        *glob.glob(os.path.join(ROOT, "apollo_spark", "**",
                                                "*.py"), recursive=True)]):
        with open(path, "rb") as f:
            h.update(f.read())
    path = os.path.join(CACHE, f"oracle-{h.hexdigest()[:12]}.json")
    if os.path.exists(path):
        with open(path) as f:
            texts = json.load(f)
        if set(names) <= set(texts):
            return {k: texts[k] for k in names}
    os.environ["SPARK_GRAFT_ORACLE_SF"] = ops_dir
    import __spark_entry__ as entry
    texts = {k: v for k, v in entry.oracle_sql().items() if k in names}
    os.makedirs(CACHE, exist_ok=True)
    tmp = f"{path}.tmp{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(texts, f)
    os.replace(tmp, path)
    return texts


def group_pairs(ids: np.ndarray, groups: np.ndarray) -> set[tuple]:
    """All (a < b) pairs of ids sharing a group label: the planted pairs
    from gt_cluster, the found pairs from cc_id."""
    out: set[tuple] = set()
    order = np.argsort(groups, kind="stable")
    g, i = groups[order], ids[order]
    cuts = np.flatnonzero(g[1:] != g[:-1]) + 1
    for members in np.split(i, cuts):
        if len(members) > 1:
            m = sorted(members)
            out.update((m[x], m[y]) for x in range(len(m))
                       for y in range(x + 1, len(m)))
    return out
