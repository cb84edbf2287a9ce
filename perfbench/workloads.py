"""The benchmark's workloads.

Each workload is a closed loop with one client: it runs one batch operation
at a time on a freshly generated input, written to parquet before the
operation is timed.  An operation returns its timings, its output-check
failures, and (traced) the layer spans and Spark counters.

``wm_roundtrip_gemm``
    Watermark round trip on a clustered 384-d corpus with MiniLM-like norms,
    embed rate 0.1, broadcast (numpy GEMM) kNN pinned: ``embed_watermark`` +
    write-back of the updated table (step 1), then a blind
    ``extract_watermark`` of the written table with the embed metadata
    (step 2).  The traced run also applies the two attack cells of the
    robustness grid, ``gaussian_attack(ratio=1.0, sigma=0.05)`` and
    ``subset_attack(keep=0.5)``, to the watermarked table.
``dedup_neardup_text``
    Near-duplicate text dedup: ``minhash_candidate_pairs`` written to
    parquet (step 1), then ``connected_components`` over the written pairs
    (step 2).  Never touches the kNN or codec code.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow.parquet as pq

from gen import derive_seed, doc_table, docs, vector_table, vectors, write

MSG = "perfbench-16char"
KEY = "perfbench-key"
RATE = 0.1
BLOCKS = 16
#: floor on planted near-duplicate recall.  MinHash LSH (16 lanes, 4 bands
#: of 4) finds a pair of Jaccard J with probability 1 - (1 - J^4)^4; the
#: planted copies (5% of 120 tokens edited) sit at J ~ 0.90, i.e. ~0.988.
RECALL_FLOOR = 0.95

SIZES = {
    "full": {"wm_rows": 1500, "wm_dim": 384, "wm_warm_rows": 400,
             "docs_base": 10_000, "docs_warm_base": 1000, "probe_rows": 2000},
    "smoke": {"wm_rows": 1000, "wm_dim": 384, "wm_warm_rows": 300,
              "docs_base": 1000, "docs_warm_base": 300, "probe_rows": 500},
}


def _materialize(df):
    return df.localCheckpoint(eager=True)


def _write_copies(ctx, tag, table, copies: int) -> list[str]:
    """Write ``copies`` identical parquet files: a traced run gives its
    untraced and traced passes different paths, so no plan-keyed cache of
    the program is shared between them."""
    paths = [ctx.path(f"in-{tag}-{c}.parquet") for c in range(copies)]
    for p in paths:
        write(table, p)
    return paths


def _read_vectors(path: str) -> tuple[np.ndarray, np.ndarray]:
    t = pq.read_table(path)
    ids = t.column("id").to_numpy()
    emb = t.column("emb").combine_chunks()
    dim = len(emb[0]) if len(emb) else 0
    mat = emb.flatten().to_numpy().reshape(-1, dim)
    order = np.argsort(ids, kind="stable")
    return ids[order], mat[order]


class WatermarkRoundTrip:
    name = "wm_roundtrip_gemm"

    def __init__(self, ctx) -> None:
        from vectordb_watermark_spark.operators.attacks import gaussian_attack, subset_attack

        self.ctx = ctx
        size = SIZES[ctx.scale]
        self.rows, self.dim = size["wm_rows"], size["wm_dim"]
        self.warm_rows, self.probe_rows = size["wm_warm_rows"], size["probe_rows"]
        self.cells = (
            ("gaussian", lambda df, sk: gaussian_attack(df, ratio=1.0, sigma=0.05, seed_key=sk)),
            ("subset", lambda df, sk: subset_attack(df, keep_ratio=0.5, seed_key=sk)),
        )

    # -- inputs ---------------------------------------------------------
    def make_input(self, tag, rows: int, copies: int) -> dict:
        s = derive_seed(self.ctx.seed, self.name, tag)
        ids, emb = vectors(rows, self.dim, s)
        paths = _write_copies(self.ctx, tag, vector_table(ids, emb), copies)
        return {"tag": tag, "seed": s, "rows": rows, "paths": paths, "emb": emb,
                "nonce": s.to_bytes(8, "big") + b"wm00"}

    # -- untraced operation: the public plan entry points --------------
    def run(self, inp: dict, path: str, out: str) -> dict:
        from vectordb_watermark_spark.plans.codec import OrthogonalCodec
        from vectordb_watermark_spark.plans.embed import embed_watermark
        from vectordb_watermark_spark.plans.extract import extract_watermark

        spark = self.ctx.spark
        codec = OrthogonalCodec(self.dim, KEY)
        df = spark.read.parquet(path)
        t0 = time.perf_counter()
        res = embed_watermark(df, MSG, KEY, rate=RATE, knn_method="broadcast",
                              codec=codec, nonce=inp["nonce"])
        res.updated.write.mode("overwrite").parquet(out)
        t1 = time.perf_counter()
        ext = extract_watermark(spark.read.parquet(out), KEY, res.nonce_hex,
                                codec=codec, embed_meta=res.metadata)
        t2 = time.perf_counter()
        carriers = {r.id for r in res.carriers.select("id").collect()}
        return {"step1_s": t1 - t0, "step2_s": t2 - t1, "out": out, "carriers": carriers,
                "n_carriers": res.n_carriers, "success": ext.success, "message": ext.message,
                "blocks": ext.recovered_blocks, "valid": ext.valid_decodes,
                "total": ext.total_decodes}

    def check(self, inp: dict, r: dict) -> list[str]:
        errors = []
        ids, emb = _read_vectors(r["out"])
        if len(ids) != inp["rows"] or not np.array_equal(ids, np.arange(inp["rows"])):
            errors.append(f"write-back has {len(ids)} rows / ids differ from the input")
            return errors
        changed = np.flatnonzero(
            (emb.view(np.uint32) != inp["emb"].view(np.uint32)).any(axis=1))
        if len(changed) != r["n_carriers"]:
            errors.append(f"embed changed {len(changed)} rows, n_carriers={r['n_carriers']}")
        if set(changed.tolist()) != r["carriers"]:
            errors.append("changed rows are not exactly the embed-time carriers")
        if not r["success"] or r["message"] != MSG or r["blocks"] != BLOCKS:
            errors.append(f"extract: success={r['success']} message={r['message']!r} "
                          f"blocks={r['blocks']}/{BLOCKS}")
        return errors

    def measures(self, inp: dict, r: dict) -> dict:
        n = inp["rows"]
        return {
            "step1_s": r["step1_s"],
            "step2_s": r["step2_s"],
            "op_rows_per_s": n / (r["step1_s"] + r["step2_s"]),
            "quality_ratio": r["valid"] / r["total"] if r["total"] else 0.0,
            "extract.recovered_blocks_min": float(r["blocks"]),
            "decodes": [(r["valid"], r["total"])],
        }

    # -- traced operation: the same layer calls, each one materialized --
    def run_traced(self, inp: dict, path: str, out: str) -> dict:
        from pyspark.sql import functions as F

        from vectordb_watermark_spark.functions import bits as B
        from vectordb_watermark_spark.functions import crypto as C
        from vectordb_watermark_spark.operators import knn as K
        from vectordb_watermark_spark.operators.selection import select_carriers
        from vectordb_watermark_spark.operators.vote import robust_vote_counts
        from vectordb_watermark_spark.plans.codec import OrthogonalCodec, with_graph_features
        from vectordb_watermark_spark.plans.embed import _msg24_col, encode_carriers
        from vectordb_watermark_spark.plans.extract import collect_vote_tallies, decode_carriers
        from vectordb_watermark_spark.sources.io import merge_update

        spark, T = self.ctx.spark, self.ctx.tracer
        codec = OrthogonalCodec(self.dim, KEY)
        k = K.DEFAULT_K
        counts = {"knn.edges_rows": 0.0}

        def carriers_of(df):
            with T.span("codec.graph_features"):
                gdf = _materialize(with_graph_features(df, codec))
            with T.span("knn.edges"):
                edges = _materialize(K.knn_edges(gdf, "id", "gfeat", k=k, method="broadcast"))
            counts["knn.edges_rows"] += edges.count()
            with T.span("knn.gated_in_degrees"):
                degrees = _materialize(K.gated_in_degrees(df, edges, "id", k=k))
            with T.span("selection.select_carriers"):
                n = degrees.count()
                carriers = _materialize(select_carriers(degrees, key=KEY, rate=RATE, total=n))
            return edges, carriers

        t0 = time.perf_counter()
        df = spark.read.parquet(path)
        with T.span("embed"):
            edges, carriers = carriers_of(df)
            cipher32, nonce_hex = C.encrypt_message_to_32chars(MSG, KEY, nonce=inp["nonce"])
            payloads = B.partition_message(cipher32)
            with T.span("embed.encode_carriers"):
                stego = _materialize(encode_carriers(
                    df.select("id", "emb"),
                    carriers.select("id", _msg24_col(F.col("blk"), payloads)), codec))
            with T.span("io.merge_update_write"):
                merge_update(df, stego, key_col="id", update_cols=["emb"]) \
                    .write.mode("overwrite").parquet(out)
        tau = K.gate_tau_plan(edges).first()["tau"]
        n_edges = edges.count()
        pruned = edges.filter(F.col("dist2") > F.lit(tau)).count() if tau is not None else n_edges
        embed_ids = {r.id for r in carriers.select("id").collect()}

        wm = spark.read.parquet(out)
        with T.span("extract"):
            _, car = carriers_of(wm)
            with T.span("extract.decode_carriers"):
                decoded = _materialize(decode_carriers(wm, car, codec))
            with T.span("extract.vote_tally"):
                total, n_valid, tallies = collect_vote_tallies(decoded)
            with T.span("vote.robust_vote_counts"):
                voted = robust_vote_counts(tallies)
            with T.span("crypto.decrypt"):
                cipher = B.assemble_message({b: p for b, (p, _, _) in voted.items()})
                message = (C.decrypt_32chars_to_message(cipher, KEY, nonce_hex)
                           if cipher is not None else None)
        traced_s = time.perf_counter() - t0
        if message != MSG:
            raise AssertionError(f"traced extract recovered {message!r}")
        ext_ids = {r.id for r in car.select("id").collect()}
        # the attack cells of the robustness grid, applied to the
        # watermarked table; not part of the traced round trip's time
        for cell, attack in self.cells:
            with T.span("attacks.apply"):
                attack(wm, f"{cell}-{inp['seed']}").write.format("noop").mode("overwrite").save()
        return {
            "traced_s": traced_s,
            "decodes": [(n_valid, total)],
            "knn.edges_rows": counts["knn.edges_rows"],
            "knn.gate_pruned_ratio": pruned / n_edges if n_edges else 0.0,
            "selection.carriers": float(len(embed_ids)),
            "selection.carrier_overlap": len(embed_ids & ext_ids) / len(embed_ids),
            "extract.recovered_blocks_min": float(len(voted)),
        }

    def probe(self) -> dict:
        """LSH kNN against the exact broadcast GEMM on a probe sample."""
        from vectordb_watermark_spark.operators import knn as K
        from vectordb_watermark_spark.plans.codec import OrthogonalCodec, with_graph_features

        spark, T = self.ctx.spark, self.ctx.tracer
        inp = self.make_input("lsh-probe", self.probe_rows, 1)
        codec = OrthogonalCodec(self.dim, KEY)
        gdf = _materialize(with_graph_features(spark.read.parquet(inp["paths"][0]), codec))
        k = K.DEFAULT_K
        with T.span("knn.lsh_edges"):
            lsh = K.knn_edges(gdf, "id", "gfeat", k=k, method="lsh", total=self.probe_rows)
            got = {(r.src, r.dst) for r in lsh.select("src", "dst").collect()}
        exact = {(r.src, r.dst) for r in
                 K.knn_edges(gdf, "id", "gfeat", k=k, method="broadcast").select("src", "dst").collect()}
        return {"knn.lsh_recall_at_16": len(got & exact) / len(exact)}


class NearDupDedup:
    name = "dedup_neardup_text"

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        size = SIZES[ctx.scale]
        self.rows, self.warm_rows = size["docs_base"], size["docs_warm_base"]

    def make_input(self, tag, n_base: int, copies: int) -> dict:
        s = derive_seed(self.ctx.seed, self.name, tag)
        ids, texts, planted = docs(n_base, s)
        paths = _write_copies(self.ctx, tag, doc_table(ids, texts), copies)
        return {"tag": tag, "rows": len(ids), "paths": paths, "ids": ids, "planted": planted}

    def run(self, inp: dict, path: str, out: str) -> dict:
        from vectordb_watermark_spark.operators.dedup import (
            connected_components,
            minhash_candidate_pairs,
        )

        spark = self.ctx.spark
        df = spark.read.parquet(path)
        t0 = time.perf_counter()
        minhash_candidate_pairs(df, "doc_id", "text").write.mode("overwrite").parquet(out + "/pairs")
        t1 = time.perf_counter()
        connected_components(spark.read.parquet(out + "/pairs")) \
            .write.mode("overwrite").parquet(out + "/labels")
        t2 = time.perf_counter()
        return {"step1_s": t1 - t0, "step2_s": t2 - t1, "out": out}

    @staticmethod
    def _outputs(out: str) -> tuple[np.ndarray, dict]:
        p = pq.read_table(out + "/pairs")
        pairs = np.stack([p.column("a").to_numpy(), p.column("b").to_numpy()], axis=1)
        lab = pq.read_table(out + "/labels")
        labels = dict(zip(lab.column("id").to_pylist(), lab.column("comp").to_pylist()))
        return pairs.reshape(-1, 2), labels

    def check(self, inp: dict, r: dict) -> list[str]:
        errors = []
        pairs, labels = self._outputs(r["out"])
        known = set(inp["ids"].tolist())
        if len(pairs) and not (pairs[:, 0] < pairs[:, 1]).all():
            errors.append("candidate pair with a >= b")
        pair_set = set(map(tuple, pairs.tolist()))
        if len(pair_set) != len(pairs):
            errors.append(f"{len(pairs) - len(pair_set)} duplicate candidate pairs")
        if not {x for p in pair_set for x in p} <= known:
            errors.append("candidate pair names an unknown doc id")
        # reference components: union-find over the written pairs, each
        # component labelled by its minimum id
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pair_set:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        expect = {x: find(x) for x in parent}
        if labels != expect:
            wrong = sum(1 for x in expect if labels.get(x) != expect[x])
            errors.append(f"connected_components disagrees with union-find on {wrong} ids "
                          f"({len(labels)} labelled, {len(expect)} expected)")
        found = [tuple(sorted(f)) in pair_set for f in inp["planted"].tolist()]
        split = sum(1 for f, hit in zip(inp["planted"].tolist(), found)
                    if hit and labels.get(f[0]) != labels.get(f[1]))
        if split:
            errors.append(f"{split} found planted families split across components")
        recall = sum(found) / len(found)
        if recall < RECALL_FLOOR:
            errors.append(f"planted pair recall {recall:.4f} < {RECALL_FLOOR}")
        r["recall"], r["found"] = recall, sum(found)
        r["n_pairs"], r["n_labels"] = len(pair_set), len(labels)
        return errors

    def measures(self, inp: dict, r: dict) -> dict:
        n = inp["rows"]
        return {
            "step1_s": r["step1_s"],
            "step2_s": r["step2_s"],
            "op_rows_per_s": n / (r["step1_s"] + r["step2_s"]),
            "quality_ratio": r["recall"],
            "dedup.candidate_pairs": float(r["n_pairs"]),
            "dedup.candidate_precision": r["found"] / r["n_pairs"] if r["n_pairs"] else 0.0,
            "decodes": [("pairs", r["n_pairs"], r["n_labels"])],
        }

    def run_traced(self, inp: dict, path: str, out: str) -> dict:
        from vectordb_watermark_spark.operators.dedup import (
            connected_components,
            minhash_candidate_pairs,
            minhash_signatures,
        )

        spark, T = self.ctx.spark, self.ctx.tracer
        t0 = time.perf_counter()
        df = spark.read.parquet(path)
        with T.span("dedup.minhash_signatures"):
            minhash_signatures(df, "doc_id", "text").write.format("noop").mode("overwrite").save()
        with T.span("dedup.candidate_pairs"):
            pairs = _materialize(minhash_candidate_pairs(df, "doc_id", "text"))
        with T.span("dedup.connected_components"):
            labels = _materialize(connected_components(pairs))
        return {"traced_s": time.perf_counter() - t0,
                "decodes": [("pairs", pairs.count(), labels.count())]}

    def probe(self) -> dict:
        return {}


WORKLOADS = {w.name: w for w in (WatermarkRoundTrip, NearDupDedup)}


def cleanup(paths) -> None:
    import shutil

    for p in paths:
        if os.path.isdir(p):
            shutil.rmtree(p, ignore_errors=True)
        elif os.path.exists(p):
            os.remove(p)
