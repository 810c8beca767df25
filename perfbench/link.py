"""``link_capped``: ``run_linkage`` over synthesized web pages, timed from
the call until the clusters are persisted and counted (the
extraction-invariant check included).

At 6,000 entities each of the ~60 shared vocabulary words posts to ~1,000
pages, over the 500-page hot-key cap, so about 950 hot delete keys are
dropped and about half the block rows go, and the rare slug keys that
remain make a small pair join: key explode, cap and clustering carry much
of the work.

The ``/1`` page of ``PROBES`` seeded entities is held out of the linkage
input.  A traced run probes those records against a persisted
``standing_index`` of the linked corpus with ``assign_new_records``
(no pair dedup, no JVM prefilter), so ``operators.incremental`` gets
spans of its own.
"""

from __future__ import annotations

import os
import traceback

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from harness import Outcome, median

ENTITIES = 6000
PROBES = 200
MIN_F1 = 0.99
MIN_ACCURACY = 0.99


def _write_parquet(df: pd.DataFrame, out: str, n_files: int) -> None:
    """Write ``df`` as ``n_files`` parquet files (so Spark reads them as
    that many partitions)."""
    table = pa.Table.from_pandas(df, preserve_index=False)
    table = table.set_column(table.schema.get_field_index("warc_ts"),
                             "warc_ts",
                             table["warc_ts"].cast(pa.timestamp("us")))
    os.makedirs(out)
    bounds = np.linspace(0, len(df), n_files + 1).astype(int)
    for i in range(n_files):
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]),
                       os.path.join(out, f"part-{i:03d}.parquet"))


def _write_pages(bench) -> tuple[str, pd.DataFrame]:
    """Synthesize the pages on the host from the seed and write the
    linkage input (``pages``) and the held-out probe records (``probes``)
    under one directory, each page with a dense ``page_id``; returns the
    directory and each url's ``page_id`` and true ``entity`` (its host)."""
    from spellchecker_wasm_spark.pipeline.webpages import synthesize_pages

    pages, _ = synthesize_pages(ENTITIES, seed=bench.seed)
    pages["page_id"] = np.arange(len(pages), dtype=np.int64)
    second = np.flatnonzero(pages["url"].str.endswith("/1").values)
    held = np.zeros(len(pages), dtype=bool)
    held[np.random.RandomState(bench.seed).choice(second, PROBES,
                                                  replace=False)] = True
    out = bench.rundir.sub("inputs")
    _write_parquet(pages[~held], os.path.join(out, "pages"), 2 * bench.cpus)
    _write_parquet(pages[held], os.path.join(out, "probes"), bench.cpus)
    truth = pd.DataFrame({"page_id": pages["page_id"].values,
                          "entity": pages["url"].str.split("/").str[2].values},
                         index=pages["url"].values)
    return out, truth


def pairwise_f1(component: pd.Series, entity: pd.Series) -> float:
    """Pairwise F1 of co-membership: predicted pairs share a component,
    true pairs share an entity (the complete truth set)."""
    df = pd.DataFrame({"c": component.values, "e": entity.values})

    def pairs(sizes: pd.Series) -> int:
        return int((sizes * (sizes - 1) // 2).sum())

    pred = pairs(df.groupby("c").size())
    true = pairs(df.groupby("e").size())
    hit = pairs(df.groupby(["c", "e"]).size())
    precision = hit / pred if pred else 1.0
    recall = hit / true if true else 1.0
    total = precision + recall
    return 2 * precision * recall / total if total else 0.0


def _collect_clusters(clusters, n_pages: int) -> pd.DataFrame:
    """The materialized clusters on the host; every page must be
    clustered exactly once."""
    pdf = clusters.toPandas()
    if len(pdf) != n_pages or pdf["node"].nunique() != n_pages:
        raise ValueError(f"{len(pdf)} cluster rows for {n_pages} pages")
    return pdf


def _partition(pdf: pd.DataFrame) -> pd.Series:
    """The cluster assignment with each component named by its smallest
    url, indexed by url: equal for equal partitions whatever the ids."""
    lead = pdf.groupby("component")["node"].transform("min")
    return pd.Series(lead.values, index=pdf["node"].values).sort_index()


def _same(a, b) -> bool:
    return a.equals(b) if isinstance(a, pd.Series) else a == b


def _link(spark, pages, cfg) -> dict:
    from spellchecker_wasm_spark.pipeline.linkage import run_linkage
    out = run_linkage(spark, pages, cfg)
    out["clusters"] = out["clusters"].persist()
    out["clusters"].count()
    return out


def _traced_link(spark, pages, cfg, tracer):
    """The stages ``run_linkage`` runs, called one by one through the
    public functions with each boundary persisted and counted, so every
    layer gets its own span.  Returns the clusters and the layer counts.
    The run compares its row counts and clusters with those of
    ``run_linkage`` in the operation before it."""
    from pyspark.sql import functions as F

    from spellchecker_wasm_spark.functions.text_expr import title_expr
    from spellchecker_wasm_spark.operators.clustering import (
        connected_components)
    from spellchecker_wasm_spark.operators.pairs import candidate_pairs
    from spellchecker_wasm_spark.operators.scoring import score_pairs
    from spellchecker_wasm_spark.pipeline.linkage import (
        hot_keys_vocab, pages_to_block_hashes, title_prefixes_array,
        verify_extraction_invariant)

    d = cfg.max_edit_distance
    if cfg.verify_extraction:
        with tracer.span("linkage.verify"):
            mismatches = verify_extraction_invariant(pages)
        if mismatches:
            raise ValueError(f"extraction invariant violated on {mismatches}")
    with tracer.span("blocks"):
        pdim = (pages.where(F.col("html").isNotNull())
                .select(F.xxhash64("url").alias("id"),
                        title_expr(F.col("html")).alias("title"))
                .persist())
        blocks = pages_to_block_hashes(pdim, cfg)
        toks = pdim.select(F.explode(
            title_prefixes_array(F.col("title"), cfg)).alias("prefix"))
        hot = hot_keys_vocab(toks, cfg)
        capped = (blocks.join(F.broadcast(hot.select("block_key")),
                              "block_key", "left_anti")
                  .repartition(F.col("block_key"))
                  .persist())
        rows_kept = capped.count()
    band = 2 * d if cfg.prefilter_before_dedup else None
    with tracer.span("pairs"):
        dim = pdim.select("id", F.col("title").alias("term"))
        pairs = candidate_pairs(capped, id_col="page_id", max_len_diff=d,
                                dim=dim, len_col="tl",
                                prefilter_band=band).persist()
        distinct = pairs.count()
    with tracer.span("scoring"):
        scored = score_pairs(pairs, max_distance=d,
                             jvm_prefilter=band is None).persist()
        edges = scored.count()
    with tracer.span("clustering"):
        ids = connected_components(
            scored, src_col="id_a", dst_col="id_b", max_iter=cfg.max_cc_iter,
            nodes=pages.select(F.xxhash64("url").alias("page_id")))
        clusters = (ids.join(pages.select(F.xxhash64("url").alias("node"),
                                          "url"), "node")
                    .select(F.col("url").alias("node"), "component")
                    .persist())
        clusters.count()
    return clusters, (blocks, hot, capped, distinct, edges, rows_kept)


def _layer_counts(frames) -> dict[str, float]:
    """Counts of a traced operation's layers, computed after it."""
    from pyspark.sql import functions as F

    blocks, hot, capped, distinct, edges, rows_kept = frames
    rows_raw = blocks.count()
    sizes = capped.groupBy("block_key").count()
    join_rows = sizes.select(
        F.sum(F.col("count") * (F.col("count") - 1) / 2)).first()[0] or 0
    return {
        "blocks.rows_raw": rows_raw, "blocks.rows_kept": rows_kept,
        "blocks.hot_keys": hot.count(),
        "blocks.keep_ratio": rows_kept / rows_raw if rows_raw else 0.0,
        "pairs.join_rows": join_rows, "pairs.distinct": distinct,
        "pairs.distinct_ratio": distinct / join_rows if join_rows else 0.0,
        "scoring.in": distinct, "scoring.out": edges,
        "scoring.yield": edges / distinct if distinct else 0.0,
        "clustering.edges": edges,
    }


def _standing_assignment(pdf: pd.DataFrame, truth: pd.DataFrame):
    """The clusters as the (page_id, component) assignment a client of
    ``operators.incremental`` keeps: each component named by its smallest
    page id (the packed arg-min needs small non-negative ids)."""
    ids = truth["page_id"].loc[pdf["node"]].values
    return pd.DataFrame({"page_id": ids,
                         "component": pd.Series(ids).groupby(
                             pdf["component"].values).transform("min")
                         .values})


def _probe(spark, pages, probes, asg_pdf, tracer):
    """Index the linked corpus with ``standing_index`` (persisted) and
    assign the held-out records against it; returns the index rows and
    the assignments (new_page_id, matched, component)."""
    from pyspark.sql import functions as F

    from spellchecker_wasm_spark.functions.text_expr import title_expr
    from spellchecker_wasm_spark.operators.incremental import (
        assign_new_records, standing_index)

    def titled(df):
        return df.select("page_id", title_expr(F.col("html")).alias("title"))

    corpus = titled(pages)
    asg = spark.createDataFrame(asg_pdf, "page_id long, component long")
    with tracer.span("index"):
        index = standing_index(corpus, asg).persist()
        rows = index.count()
    with tracer.span("assign"):
        res = assign_new_records(titled(probes), corpus, asg,
                                 dedup_pairs=False, index=index).toPandas()
    index.unpersist()
    return rows, res


def _probe_accuracy(res: pd.DataFrame, asg_pdf: pd.DataFrame,
                    truth: pd.DataFrame) -> float:
    """Share of probe records assigned to a component whose pages are
    mostly of the record's true entity (unmatched records count wrong)."""
    entity = truth.set_index("page_id")["entity"]
    members = asg_pdf.assign(e=entity.loc[asg_pdf["page_id"]].values)
    sizes = members.groupby(["component", "e"]).size().reset_index(name="n")
    owner = (sizes.sort_values("n").drop_duplicates("component", keep="last")
             .set_index("component")["e"])
    got = res["component"].map(owner).values
    want = entity.loc[res["new_page_id"]].values
    return float((got == want).mean())


def _matches(reference: dict | None, counts: dict,
             pdf: pd.DataFrame) -> bool:
    """Whether the traced chain kept the same block rows, scored the same
    edges and found the same clusters as ``run_linkage`` did."""
    got = {"rows_kept": counts["blocks.rows_kept"],
           "edges": counts["scoring.out"], "clusters": _partition(pdf)}
    if reference is None:
        return False
    differ = [k for k, v in got.items() if not _same(v, reference[k])]
    if differ:
        print(f"perfbench: traced chain differs from run_linkage in {differ}",
              flush=True)
    return not differ


def _probe_op(spark, pages, probes, pdf, truth, tracer, counts) -> float:
    """One traced probe of the held-out records; returns its accuracy
    (0 if it fails) and records the index and assign counts."""
    try:
        asg_pdf = _standing_assignment(pdf, truth)
        rows, res = _probe(spark, pages, probes, asg_pdf, tracer)
        if len(res) != PROBES:
            raise ValueError(f"{len(res)} assignments for {PROBES} probes")
        counts["index.rows"] = rows
        counts["assign.matched_ratio"] = float(res["matched"].mean())
        return _probe_accuracy(res, asg_pdf, truth)
    except Exception:  # a failed probe is counted, not fatal
        traceback.print_exc()
        return 0.0


def run(bench):
    from spellchecker_wasm_spark.pipeline.linkage import LinkageConfig

    cfg = LinkageConfig()
    input_dir, truth = _write_pages(bench)
    entity = truth["entity"]
    pages_dir = os.path.join(input_dir, "pages")

    bench.set_up(input_dir, warm=lambda spark: _link(
        spark, spark.read.parquet(pages_dir), cfg))
    spark = bench.spark
    pages = spark.read.parquet(pages_dir)
    n_pages = pages.count()
    probes = spark.read.parquet(os.path.join(input_dir, "probes"))
    more = bench.deadline()
    plain, plain_cpu, traced, f1s, accuracy = [], [], [], [], []
    counts: dict[str, float] = {}
    reference = None
    failed = 0
    while more(len(plain) + len(traced)):
        # a traced run alternates untraced and traced operations; the
        # difference between them is the tracing overhead, and each traced
        # operation is checked against the untraced one before it
        use_trace = bench.trace and len(traced) <= len(plain) - 1
        try:
            if use_trace:
                with bench.meter.measure(traced):
                    clusters, frames = _traced_link(spark, pages, cfg,
                                                    bench.tracer)
                counts = _layer_counts(frames)
                pdf = _collect_clusters(clusters, n_pages)
                counts["clustering.components"] = pdf["component"].nunique()
                same = _matches(reference, counts, pdf)
            else:
                with bench.meter.measure(plain, plain_cpu):
                    out = _link(spark, pages, cfg)
                clusters = out["clusters"]
                pdf = _collect_clusters(clusters, n_pages)
                if bench.trace:
                    reference = {"rows_kept": out["blocks"].count(),
                                 "edges": out["scored_pairs"].count(),
                                 "clusters": _partition(pdf)}
                same = True
            f1 = pairwise_f1(pdf["component"], entity.loc[pdf["node"]])
        except Exception:  # an operation that fails is counted, not fatal
            traceback.print_exc()
            f1, same = 0.0, True
        failed += f1 < MIN_F1 or not same
        f1s.append(f1)
        if use_trace and f1 > 0.0:
            accuracy.append(_probe_op(spark, pages, probes, pdf, truth,
                                      bench.tracer, counts))
            failed += accuracy[-1] < MIN_ACCURACY
        spark.catalog.clearCache()

    layers = dict(counts)
    if traced:
        layers["trace.overhead_ratio"] = median(traced) / median(plain)
    return Outcome(
        ops=plain, op_cpu=plain_cpu, quality=min(f1s),
        attempted=len(plain) + len(traced) + len(accuracy), failed=failed,
        layers=layers,
        details={"entities": ENTITIES, "pages": n_pages, "probes": PROBES,
                 "link_s": plain, "traced_link_s": traced, "f1": f1s,
                 "probe_accuracy": accuracy})
