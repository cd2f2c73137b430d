"""Traced passes: each layer's public function called from outside, in
pipeline order, persisting and counting at every boundary so a layer's jobs
run inside its own span.

The MinHash and SimHash passes mirror the plans ``run_pipeline`` builds for
the workloads' configs (minhash_dedup's private fingerprint UDF and band
explode included). Where the program picks a path at run time, the traced
pass takes the path the program's own last pass took, read from that
pass's physical plans by the caller, instead of deciding again. A layer the
config bypasses gets no span and reports 0.
"""

from __future__ import annotations

import pickle
from pathlib import Path

from pyspark.sql import functions as F

from spans import Span, StatusReader
from text_dedup_spark.config import Config
from text_dedup_spark.operators.ids import CLUSTER_COL, DUPLICATE_COL, INDEX_COL
from text_dedup_spark.pipeline import read_input

# markers in a physical plan, from the program's own column names
CONTRACTED = "__fph__"  # minhash contract_identical_fingerprints ran
ANCHORED = "__root__"  # suffix_array_dedup_auto took the anchored path
SCALE_MAX_CLUSTER_VERIFY = 1_000  # run_pipeline's scale-profile default


def _materialize(df):
    df = df.persist()
    return df, df.count()


def _read(spark, cfg: Config, sr: StatusReader, spans: list[Span], name: str):
    with sr.span(name, spans) as s:
        docs, s.counts["rows"] = _materialize(
            read_input(spark, cfg).withColumn(
                INDEX_COL, F.col(cfg.algorithm.index_column).cast("long")
            )
        )
    return docs


def minhash_pass(
    spark, cfg: Config, sr: StatusReader, spans: list[Span], salted: bool, contracted: bool
) -> None:
    """One MinHash pass. ``salted``: the star-edge form the program's last
    pass took (its summary's ``band_edges_mode``); ``contracted``: whether
    that pass contracted identical fingerprints (salted form only). The
    ``contract`` span runs the contraction gate's probe in either form, so
    the window form reports the distinct ratio its corpus has. After
    the assignment a ``verify`` span runs false-positive verification in
    the form minhash_dedup pins to the star-edge form ("join" when salted,
    else "window"); the workloads' configs do not verify, so the write that
    follows uses the unverified assignment, as ``run_pipeline`` does."""
    from text_dedup_spark.kernels.minhash_kernel import MinHashKernel
    from text_dedup_spark.operators.connected_components import connected_components
    from text_dedup_spark.operators.minhash import (
        _bands_udf,
        _explode_bands,
        assign_clusters,
        check_false_positives,
        contract_identical_fingerprints,
        lsh_star_edges,
        lsh_star_edges_salted,
    )

    a = cfg.algorithm
    text = a.text_column
    kernel = MinHashKernel(
        num_perm=a.num_perm, ngram_size=a.ngram_size, min_length=a.min_length,
        threshold=a.threshold, seed=a.seed, bands=a.bands, rows=a.rows,
    )
    docs = _read(spark, cfg, sr, spans, "read")
    with sr.span("fingerprint", spans) as s:
        with_bands, n = _materialize(
            docs.select(INDEX_COL, text)
            .withColumn("__BANDS__", _bands_udf(kernel)(F.col(text)))
            .select(INDEX_COL, "__BANDS__")
        )
        filtered = with_bands.where(F.col("__BANDS__").isNotNull())
        reps = filtered.count()
        s.counts.update(rows=n, filtered_frac=1 - reps / n)
    rep_rows, contraction_edges = filtered, None
    with sr.span("contract", spans) as s:
        # the program's gate probe; its decision is taken from outside
        probe = filtered.select(
            F.count(F.lit(1)).alias("n"),
            F.approx_count_distinct(F.xxhash64("__BANDS__"), rsd=0.02).alias("nd"),
        ).first()
        s.counts.update(distinct_ratio=probe["nd"] / probe["n"], applied=int(contracted))
        if contracted:
            rep_rows, contraction_edges = contract_identical_fingerprints(filtered)
            rep_rows, reps = _materialize(rep_rows)
            contraction_edges, _ = _materialize(contraction_edges)
    with sr.span("star_edges", spans) as s:
        exploded = _explode_bands(rep_rows, kernel)
        if salted:
            edges = lsh_star_edges_salted(exploded)
            if contraction_edges is not None:
                edges = edges.unionByName(contraction_edges)
        else:
            edges = lsh_star_edges(exploded)
        edges, n_edges = _materialize(edges)
        s.counts.update(band_rows=reps * kernel.bands, edges=n_edges)
    with sr.span("cc", spans) as s:
        mapping, nodes = _materialize(connected_components(edges))
        s.counts.update(edges_in=n_edges, nodes=nodes)
    with sr.span("assign", spans):
        survivors = docs.join(filtered.select(INDEX_COL), INDEX_COL)
        assigned, _ = _materialize(assign_clusters(survivors, mapping))
    with sr.span("verify", spans) as s:
        verified, new_map = check_false_positives(
            assigned, kernel, text,
            max_cluster_verify=SCALE_MAX_CLUSTER_VERIFY if a.profile == "scale" else None,
            contraction="join" if salted else "window",
        )
        verified, _ = _materialize(verified)
        s.counts.update(candidates=nodes, confirmed_frac=new_map.count() / nodes if nodes else 0.0)
    verified.unpersist()
    # run_pipeline's output stage: data parquet, clusters parquet, the
    # clusters count and pickle collect, then the row-count re-read
    out = Path(cfg.output.output_dir)
    with sr.span("write", spans) as s:
        assigned.where(F.col(CLUSTER_COL) == F.col(INDEX_COL)).drop(DUPLICATE_COL).write.mode(
            "overwrite"
        ).parquet(str(out / "data"))
        clusters = assigned.where(F.col(DUPLICATE_COL)).select(
            F.col(INDEX_COL).alias("id"), F.col(CLUSTER_COL).alias("cluster")
        )
        clusters.write.mode("overwrite").parquet(str(out / "clusters"))
        clusters.count()
        with open(out / "clusters.pickle", "wb") as f:
            pickle.dump({r["id"]: r["cluster"] for r in clusters.collect()}, f)
        s.counts["rows"] = spark.read.parquet(str(out / "data")).count()
        s.counts["bytes"] = sum(p.stat().st_size for p in out.rglob("*") if p.is_file())


def simhash_pass(spark, cfg: Config, sr: StatusReader, spans: list[Span]) -> None:
    """One verified SimHash pass (parity profile: no bucket cap, window
    verify contraction), through the assignment and the verification; the
    output write is left out."""
    from text_dedup_spark.kernels.simhash_kernel import SimHashKernel
    from text_dedup_spark.operators.connected_components import connected_components
    from text_dedup_spark.operators.simhash import (
        simhash_check_false_positives,
        simhash_edges,
        simhash_embed,
    )

    a = cfg.algorithm
    text = a.text_column
    kernel = SimHashKernel(
        f=a.f, bit_diff=a.bit_diff, num_bucket=a.num_bucket,
        ngram_size=a.ngram_size, min_length=a.min_length, seed=a.seed,
    )
    docs = _read(spark, cfg, sr, spans, "simhash_read")
    with sr.span("simhash_fingerprint", spans) as s:
        embedded, s.counts["rows"] = _materialize(simhash_embed(docs, kernel, text))
    with sr.span("simhash_edges", spans) as s:
        # simhash_dedup's distinct-signature contraction, then the buckets
        sigs = embedded.select(
            F.col(INDEX_COL),
            F.col("__E__.sig_hi").alias("sig_hi"),
            F.col("__E__.sig_lo").alias("sig_lo"),
            F.col("__E__.keys").alias("__keys__"),
        )
        reps = sigs.groupBy("sig_hi", "sig_lo").agg(F.min(INDEX_COL).alias("__rep__"))
        with_rep = sigs.join(reps, ["sig_hi", "sig_lo"])
        member_edges = with_rep.where(F.col(INDEX_COL) != F.col("__rep__")).select(
            F.col("__rep__").alias("src"), F.col(INDEX_COL).alias("dst")
        )
        fps = with_rep.where(F.col(INDEX_COL) == F.col("__rep__")).select(
            F.col(INDEX_COL), F.col("sig_hi"), F.col("sig_lo"),
            F.explode_outer("__keys__").alias("__key__"),
        )
        edges = member_edges.unionByName(simhash_edges(fps, kernel.bit_diff, None, dedup=False))
        edges, s.counts["edges"] = _materialize(edges)
    with sr.span("simhash_cc", spans) as s:
        mapping, nodes = _materialize(connected_components(edges))
        m = mapping.select(F.col("id").alias(INDEX_COL), F.col("cluster").alias("__C__"))
        assigned, _ = _materialize(
            docs.join(m, INDEX_COL, "left")
            .withColumn(CLUSTER_COL, F.coalesce(F.col("__C__"), F.col(INDEX_COL)))
            .withColumn(DUPLICATE_COL, F.col("__C__").isNotNull())
            .drop("__C__")
        )
    with sr.span("simhash_verify", spans) as s:
        verified, new_map = simhash_check_false_positives(
            assigned, kernel, a.jaccard_threshold, text, contraction="window"
        )
        _materialize(verified)
        s.counts.update(candidates=nodes, confirmed_frac=new_map.count() / nodes if nodes else 0.0)


def suffix_pass(spark, cfg: Config, sr: StatusReader, spans: list[Span]) -> None:
    """One suffix-array pass: the program's size-gated entry point, whose
    rewritten docs are materialized inside the span."""
    from text_dedup_spark.operators.suffix_dedup import suffix_array_dedup_auto

    a = cfg.algorithm
    docs = _read(spark, cfg, sr, spans, "suffix_read")
    with sr.span("suffix", spans) as s:
        res = suffix_array_dedup_auto(
            docs, text_col=a.text_column,
            length_threshold=a.length_threshold, merge_strategy=a.merge_strategy,
        )
        _, s.counts["rows"] = _materialize(res.docs)
    s.counts["anchored"] = int(any(ANCHORED in p for p in sr.plans(s)))
