"""Generational (Lucene-segment-style) incremental index maintenance.

``plans/build.py:incremental_update`` restates the reference's nightly
merge (``core/src/org/solrmarc/marc/MarcMerger.java:251-364`` — base ⋈
mods ⋈ deletes) as a FULL re-segment of the merged tf: correct, but the
one shuffle it keeps is proportional to the WHOLE corpus. At the
10^12-doc design point a nightly 0.01% delta must not move 100 TB of
postings, so this module adds the model Lucene/Solr actually use under
``<autoCommit>`` (``profiling/solr/conf/solrconfig.xml:30-33``) and
``optimize`` (``MarcImporter.java:418-442``):

* :func:`append_delta` — O(|delta|) ingest: tokenize and segment ONLY the
  new/updated docs into a NEW generation store whose manifest points at
  its parent; tombstone replaced/deleted docs in a cumulative ``deletes``
  stage (the live-docs bitmap analog); commit exactly-adjusted global
  stats + dictionary so BM25 scores stay value-identical to a
  from-scratch rebuild of the live corpus.
* :func:`merge_generations` / :func:`force_merge` — the tiered-merge /
  optimize reclaim: re-segment the chosen generations' compact tf rows
  (never re-tokenize), apply their deletes physically, rebuild caps
  tight at the current avgdl.

Why scores stay exact (the rank-identity contract vs a full rebuild):

- doc ids are append-only (every generation's ids sit above every
  ancestor's max, tombstoned ids never reused), so within a (term, salt)
  group the block doc-ranges of different generations are DISJOINT — the
  block-max kernel's one structural invariant (``operators/wand.py
  _score_blocks_bmw``) survives a plain union of generation segments;
- deleted ids are masked inside the kernels through the existing
  ``exclude_ids`` path (excluded docs never score, never raise theta —
  pruning stays exact);
- df/cf/n_docs/avgdl are re-derived EXACTLY at append time: parent values
  minus the tombstoned docs' contributions (read from the compact packed
  tf rows of the chain — a broadcast semi-join, no re-tokenization) plus
  the delta's; stale block-max caps of old generations are scaled by
  ``avgdl_now / avgdl_built`` at read time (an upper bound on the weight
  growth), so pruning remains sound under corpus drift.

Scale shape of one append: tokenize |delta| docs, shuffle |delta|
packed rows into delta segments, one broadcast semi-join of the chain tf
against the tombstone ids (column-pruned compact rows), one
dictionary-sized outer join for the adjustment. Nothing proportional to
corpus POSTINGS moves. The dictionary join is the largest term —
O(vocab) — the same cost Lucene pays writing a merged term dictionary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.postings import tokenize_and_count_packed
from ..operators.segments import build_segments_packed
from .build import (
    InvertedIndex,
    _resolve_range_buckets,
    assign_doc_ids,
    incremental_update,
)
from .lineage import IndexStore, config_fingerprint


def _guard_out_path(index, out_path: str) -> None:
    """Refuse an ``out_path`` that is already a store of the target
    chain. Writing a generation onto a live ancestor would wipe its
    stage directories (``set_fingerprint`` clears on parent change) and
    install a self-referential parent — destroying the chain the
    durability contract promises to preserve. This is exactly the
    failure mode of an at-least-once ``foreachBatch`` replay
    (``streaming/ingest.py stream_index_generations``), so it fails
    loudly here rather than corrupting."""
    import os

    target = os.path.abspath(out_path)
    for st in index.stores:
        if os.path.abspath(st.path) == target:
            raise ValueError(
                f"append out_path {out_path!r} is a live store of the "
                "target index's generation chain — appending onto an "
                "ancestor would corrupt the chain (replayed micro-batch? "
                "publish a fresh generation path instead)")


def _dels_packed(dels_df: DataFrame) -> DataFrame:
    """Synthetic packed-tf rows for the tombstone posting list: every
    deleted doc id posts once under the reserved ``DEL_TERM`` — fed to
    the ordinary segment builder so the delete set shares the salt
    layout, block format and scan path of the scored postings. Kernels
    then decode ONLY their salt's delete ids (per-segment liveDocs; no
    driver-side collect at any delete-set size)."""
    from ..operators.segments import DEL_TERM

    return dels_df.select(
        F.col("doc_id"),
        F.lit(1).alias("doc_len"),
        F.array(F.lit(DEL_TERM)).alias("terms"),
        F.array(F.lit(1)).alias("tfs"),
    )


def _commit_del_segments(store, dels_df, n_salts: int,
                         block_size: int) -> None:
    if not store.stage_complete("del_segments"):
        store.commit_stage("del_segments", build_segments_packed(
            _dels_packed(dels_df), avgdl=1.0, n_salts=n_salts,
            block_size=block_size))


def _rebuild_filters_minus(fout: DataFrame, applied: DataFrame,
                           n_salts: int, block_size: int) -> DataFrame:
    """Filter postings minus physically-applied tombstones: decode →
    anti-join → re-segment (O(filter postings), the shape of the merge
    itself). Needed because facet counters (``wand.py
    facet_match_counts``) COUNT filter postings directly — once a merge
    drops applied ids from the carried delete set, stale filter rows
    would silently inflate match-all facet counts and fq numFound."""
    from ..operators.segments import decode_segment_doc_ids

    live = decode_segment_doc_ids(fout).join(
        F.broadcast(applied.select("doc_id")), "doc_id", "left_anti")
    packed = (
        live.groupBy("doc_id")
        .agg(F.collect_list("term").alias("terms"))
        .select("doc_id", F.lit(1).alias("doc_len"), "terms",
                F.transform("terms", lambda x: F.lit(1)).alias("tfs"))
    )
    return build_segments_packed(
        packed, avgdl=1.0, n_salts=n_salts, block_size=block_size)


def _dedup_delta(delta_docs: DataFrame, key_col: str) -> DataFrame:
    """One live row per key within a delta batch (the reference merger's
    one-record-per-id contract, ``MarcMerger.java`` min ⋈ merge loop):
    two same-key rows in one batch would BOTH get fresh doc ids while
    only the pre-batch id is tombstoned, breaking upsert-by-key
    uniqueness until some later append. Latest ``warc_ts`` wins when the
    column is present (re-crawled page semantics). Remaining ties go to
    a stable hash of the whole row: each stage commit re-evaluates this
    plan, and every one of them must keep the SAME survivor for a key
    (an arbitrary pick could send one row to ``tf`` and its twin to
    ``docs``)."""
    from pyspark.sql import Window

    order = ([F.desc_nulls_last("warc_ts")]
             if "warc_ts" in delta_docs.columns else [])
    # to_json: hash expressions reject map columns; JSON text does not
    row_hash = F.xxhash64(F.to_json(F.struct(*delta_docs.columns)))
    w = Window.partitionBy(key_col).orderBy(*order, row_hash)
    return (delta_docs
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1).drop("_rn"))


def _key_expr(df: DataFrame, key_col: str):
    if key_col not in df.columns:
        raise ValueError(
            f"append_delta needs the external key column {key_col!r} in the "
            f"docs stage (build the base with build_index(key_col={key_col!r}"
            ", id_col=None)); got columns " + str(df.columns)
        )
    return F.col(key_col)


def append_delta(
    spark: SparkSession,
    index: InvertedIndex,
    out_path: str,
    delta_docs: DataFrame | None = None,
    delete_keys: DataFrame | None = None,
    key_col: str = "url",
    text_col: str = "text",
    html_col: str | None = None,
) -> InvertedIndex:
    """Apply a delta as a NEW GENERATION: O(|delta|) work, no corpus
    shuffle. ``delta_docs`` rows upsert by ``key_col`` (a key already in
    the live index tombstones its old doc id and gets a fresh one);
    ``delete_keys`` is a one-column DataFrame of keys to drop.

    Build parameters (analyzer chain, n_salts, block_size, positions) are
    INHERITED from the base — a generation chain must be
    kernel-compatible (same salt function domain, same analyzer).
    """
    _guard_out_path(index, out_path)
    meta = index.store.get_meta()
    n_salts = int(meta.get("n_salts", index.n_salts))
    block_size = int(meta.get("block_size", 128))
    positions = bool(meta.get("positions", False))
    filter_cols = list(meta.get("filter_cols", []) or [])
    chain = index.chain
    if filter_cols and delta_docs is not None:
        missing = [c for c in filter_cols if c not in delta_docs.columns]
        if missing:
            raise ValueError(
                f"base index carries filter postings for {filter_cols}; "
                f"delta_docs lacks column(s) {missing} — fq over the "
                "chain would silently miss the new generation")

    if delta_docs is not None and delete_keys is not None:
        # deletes WIN over same-batch upserts — the reference applies the
        # .del file AFTER the import pass (MarcImporter.java:348-416 runs
        # deleteRecords after importRecords), so a key in both never
        # survives
        delta_docs = delta_docs.join(
            F.broadcast(delete_keys.select(
                F.col(delete_keys.columns[0]).alias(key_col)).distinct()),
            key_col, "left_anti",
        )
    if delta_docs is not None:
        delta_docs = _dedup_delta(delta_docs, key_col)

    store = IndexStore(out_path)
    store.set_fingerprint(config_fingerprint({
        "parent": index.store.path,
        "chain": chain,
        "n_salts": n_salts,
        "block_size": block_size,
        "positions": positions,
        "key_col": key_col,
        "version": 1,
    }))

    # ---- tombstones: old ids of deleted + upserted keys -----------------
    live = index.docs  # chain union minus current deletes
    _key_expr(live, key_col)
    keys = None
    if delete_keys is not None:
        keys = delete_keys.select(F.col(delete_keys.columns[0])
                                  .alias(key_col))
    if delta_docs is not None:
        dk = delta_docs.select(F.col(key_col))
        keys = dk if keys is None else keys.union(dk)
    tombstones = None
    if keys is not None:
        # the delta is driver-small relative to the corpus by definition
        # of an increment; broadcast it against the docs table (compact
        # columns only) — the Lucene analog resolves each delete term
        # against the term dictionary, same O(|delta|) probe shape
        tombstones = live.join(
            F.broadcast(keys.distinct()), key_col
        ).select("doc_id", "doc_len").persist()

    n_rm, rm_tokens = 0, 0
    if tombstones is not None:
        row = tombstones.agg(
            F.count("*").alias("n"), F.sum("doc_len").alias("t")
        ).collect()[0]
        n_rm, rm_tokens = int(row["n"]), int(row["t"] or 0)

    # cumulative deletes stage (ids-only; reclaimed by merge_generations)
    old_dels = index.deletes_df()
    new_dels = None
    if tombstones is not None:
        new_dels = tombstones.select("doc_id")
        if old_dels is not None:
            new_dels = old_dels.select("doc_id").union(new_dels).distinct()
    elif old_dels is not None:
        new_dels = old_dels.select("doc_id")
    if new_dels is not None and not store.stage_complete("deletes"):
        store.commit_stage("deletes", new_dels, partition_sort=["doc_id"])
    if new_dels is not None:
        # index-resident tombstone postings (per-salt liveDocs): the
        # large-delete-set query path reads these in the salted scan
        # instead of a driver-collected array (delete_masks threshold)
        _commit_del_segments(
            store, store.read_stage(spark, "deletes"), n_salts, block_size)

    # ---- delta ingest: fresh ids ABOVE every ancestor's max -------------
    # every stage commit below is manifest-gated (stage_complete), so a
    # killed append resumes from its last committed stage without
    # re-tokenizing — same resume contract as build_index
    delta_tf = None
    if delta_docs is not None:
        # max over ALL docs stages (including tombstoned rows — their ids
        # must never be reused, or block ranges across generations would
        # overlap and the kernel invariant would break)
        all_docs = None
        for st in index.stores:
            d = st.read_stage(spark, "docs").select("doc_id")
            all_docs = d if all_docs is None else all_docs.union(d)
        next_id = int(
            all_docs.agg(F.max("doc_id")).collect()[0][0] or -1
        ) + 1

        cols = ([key_col, text_col] + ([html_col] if html_col else [])
                + filter_cols)
        with_ids = assign_doc_ids(
            delta_docs.select(*dict.fromkeys(cols)), key_col=key_col
        ).withColumn("doc_id", F.col("doc_id") + F.lit(next_id))
        if not store.stage_complete("tf"):
            delta_tf = tokenize_and_count_packed(
                with_ids, key_col="doc_id", text_col=text_col, chain=chain,
                html_col=html_col, positions=positions,
            ).persist()
            store.commit_stage("tf", delta_tf)
        tf_stage = store.read_stage(spark, "tf")
        if not store.stage_complete("docs"):
            store.commit_stage(
                "docs",
                tf_stage.select("doc_id", "doc_len").join(
                    with_ids.select("doc_id", key_col), "doc_id"
                ),
                partition_sort=["doc_id"],
            )
        n_delta = int(store.lineage()["stages"]["tf"]["rows"])
        delta_tokens = int(
            tf_stage.agg(F.sum("doc_len")).collect()[0][0] or 0)
    else:
        # a pure-delete generation still needs (empty) tf/docs/segments
        # stages so chain unions stay uniform
        if not store.stage_complete("tf"):
            store.commit_stage(
                "tf", index.store.read_stage(spark, "tf").limit(0))
        if not store.stage_complete("docs"):
            store.commit_stage(
                "docs", index.store.read_stage(spark, "docs").limit(0)
            )
        n_delta, delta_tokens = 0, 0

    if filter_cols and not store.stage_complete("filters"):
        # fq bitsets for the delta generation (chain fq needs every
        # generation's stage; a pure-delete gen commits an empty one)
        from .build import _filter_packed

        if delta_docs is not None:
            fsegs = build_segments_packed(
                _filter_packed(with_ids, filter_cols), avgdl=1.0,
                n_salts=n_salts, block_size=block_size,
            )
        else:
            fsegs = index.store.read_stage(spark, "filters").limit(0)
        store.commit_stage("filters", fsegs)

    # ---- exactly-adjusted global stats ----------------------------------
    if not store.stage_complete("stats"):
        old = index.store.read_stage(spark, "stats").collect()[0]
        n_docs = int(old["n_docs"]) - n_rm + n_delta
        total = int(old["total_tokens"]) - rm_tokens + delta_tokens
        avgdl = (float(total) / n_docs) if n_docs else 0.0
        store.commit_stage("stats", spark.createDataFrame(
            [(n_docs, avgdl, total)],
            "n_docs long, avgdl double, total_tokens long",
        ))
    avgdl = float(store.read_stage(spark, "stats").collect()[0]["avgdl"])

    # ---- delta segments (built tight at the NEW avgdl) ------------------
    if not store.stage_complete("segments"):
        segs = build_segments_packed(
            store.read_stage(spark, "tf"), avgdl=avgdl, n_salts=n_salts,
            block_size=block_size,
            range_buckets=_resolve_range_buckets(
                "auto", spark, n_salts, n_delta),
        )
        store.commit_stage("segments", segs)

    # ---- exactly-adjusted dictionary ------------------------------------
    # removed contributions: per-term (df, cf) of the tombstoned docs,
    # read from the chain's COMPACT packed tf rows (doc_id + two pruned
    # array columns; docs stages are doc_id-sorted so row-group min/max
    # prunes most of the scan at scale) — never a re-tokenize
    removed = None
    if not store.stage_complete("dictionary") and (
            tombstones is not None and n_rm):
        chain_tf = None
        for st in index.stores:
            t = st.read_stage(spark, "tf").select("doc_id", "terms", "tfs")
            chain_tf = t if chain_tf is None else chain_tf.union(t)
        removed = (
            chain_tf.join(F.broadcast(tombstones.select("doc_id")), "doc_id")
            .select(F.explode(F.arrays_zip("terms", "tfs")).alias("z"))
            .select(F.col("z.terms").alias("term"),
                    F.col("z.tfs").alias("tf"))
            .groupBy("term")
            .agg(F.count("*").alias("df_rm"), F.sum("tf").alias("cf_rm"))
        )
    if not store.stage_complete("dictionary"):
        delta_dict = (
            store.read_stage(spark, "segments").groupBy("term").agg(
                F.sum("n_postings").alias("df_add"),
                F.sum("tf_sum").alias("cf_add"),
            )
        )
        d = index.dictionary.join(delta_dict, "term", "full_outer")
        if removed is not None:
            d = d.join(removed, "term", "full_outer")
        else:
            d = d.withColumn("df_rm", F.lit(0)).withColumn(
                "cf_rm", F.lit(0))
        adjusted = (
            d.select(
                "term",
                (F.coalesce("df", F.lit(0)) + F.coalesce("df_add", F.lit(0))
                 - F.coalesce("df_rm", F.lit(0))).alias("df"),
                (F.coalesce("cf", F.lit(0)) + F.coalesce("cf_add", F.lit(0))
                 - F.coalesce("cf_rm", F.lit(0))).alias("cf"),
            )
            .filter(F.col("df") > 0)
        )
        store.commit_stage("dictionary", adjusted, partition_sort=["term"])

    store.set_meta({
        "parent": index.store.path,
        "n_salts": n_salts, "chain": chain, "block_size": block_size,
        "positions": positions, "built_avgdl": avgdl, "key_col": key_col,
        "filter_cols": filter_cols,
        "generation": len(index.stores),
    })

    if tombstones is not None:
        tombstones.unpersist()
    if delta_tf is not None and delta_docs is not None:
        delta_tf.unpersist()
    return InvertedIndex(store, spark, chain)


def merge_generations(
    spark: SparkSession,
    index: InvertedIndex,
    out_path: str,
    keep: int = 1,
    block_size: int | None = None,
    range_buckets: int | str = "auto",
) -> InvertedIndex:
    """Tiered merge: re-segment the NEWEST ``len(chain) - keep``
    generations into one, leaving the ``keep`` oldest untouched (Lucene's
    TieredMergePolicy shape — small recent segments merge often, the big
    base rarely). ``keep=0`` merges everything (== :func:`force_merge`).

    Work is proportional to the MERGED generations' postings plus their
    deletes: their compact tf rows are unioned, tombstones falling inside
    them applied physically (and dropped from the carried delete set),
    and one salted shuffle rebuilds their segments with caps tight at the
    current avgdl. Stats/dictionary are copied — a merge does not change
    the live corpus, so the adjusted values are already correct.
    """
    chain_len = len(index.stores)
    if keep < 0 or keep >= chain_len:
        raise ValueError(f"keep must be in [0, {chain_len - 1}]")
    if keep == 0:
        return force_merge(spark, index, out_path,
                           block_size=block_size,
                           range_buckets=range_buckets)
    merged_stores = index.stores[: chain_len - keep]   # newest first
    parent_store = index.stores[chain_len - keep]
    meta = index.store.get_meta()
    n_salts = int(meta.get("n_salts", index.n_salts))
    bs = int(block_size or meta.get("block_size", 128))
    positions = bool(meta.get("positions", False))

    store = IndexStore(out_path)
    store.set_fingerprint(config_fingerprint({
        "merge_of": [s.path for s in merged_stores],
        "parent": parent_store.path,
        "block_size": bs, "version": 1,
    }))

    merged_tf = None
    merged_docs = None
    for st in merged_stores:
        t = st.read_stage(spark, "tf")
        d = st.read_stage(spark, "docs")
        merged_tf = t if merged_tf is None else merged_tf.unionByName(t)
        merged_docs = (d if merged_docs is None
                       else merged_docs.unionByName(d,
                                                    allowMissingColumns=True))

    dels = index.deletes_df()
    carried = None
    applied = None
    if dels is not None:
        # split tombstones: ids living in a MERGED generation get applied
        # physically here; ids in a KEPT ancestor stay in the delete set
        merged_ids = merged_docs.select("doc_id")
        applied = dels.join(merged_ids, "doc_id", "left_semi").persist()
        carried = dels.join(merged_ids, "doc_id", "left_anti")
        if applied.limit(1).count() == 0:
            applied.unpersist()
            applied = None
        else:
            merged_tf = merged_tf.join(
                F.broadcast(applied), "doc_id", "left_anti")
            merged_docs = merged_docs.join(
                F.broadcast(applied), "doc_id", "left_anti")
        if carried.limit(1).count() == 0:
            carried = None
    if carried is not None:
        store.commit_stage("deletes", carried, partition_sort=["doc_id"])
        _commit_del_segments(
            store, store.read_stage(spark, "deletes"), n_salts, bs)

    store.commit_stage("tf", merged_tf)
    store.commit_stage("docs", merged_docs, partition_sort=["doc_id"])
    # global stats/dictionary are unchanged by a merge — copy the already
    # adjusted tables from the chain head
    store.commit_stage("stats", index.store.read_stage(spark, "stats"))
    store.commit_stage("dictionary", index.dictionary,
                       partition_sort=["term"])
    if all(st.stage_complete("filters") for st in merged_stores):
        # fq bitsets of the merged tiers: block re-layout is unnecessary
        # for the fq gate (includes decode wholesale), but the facet
        # counters COUNT these postings directly — so once tombstones are
        # applied physically above, rows of the applied docs must leave
        # the filter postings too (decode → anti-join → re-segment,
        # O(merged filter postings))
        fparts = [st.read_stage(spark, "filters") for st in merged_stores]
        fout = fparts[0]
        for p in fparts[1:]:
            fout = fout.unionByName(p, allowMissingColumns=True)
        if applied is not None:
            fout = _rebuild_filters_minus(fout, applied, n_salts, bs)
        store.commit_stage("filters", fout)
    if applied is not None:
        applied.unpersist()

    tf = store.read_stage(spark, "tf")
    n_rows = int(store.lineage()["stages"]["tf"]["rows"])
    segs = build_segments_packed(
        tf, avgdl=index.avgdl, n_salts=n_salts, block_size=bs,
        range_buckets=_resolve_range_buckets(
            range_buckets, spark, n_salts, n_rows),
    )
    store.commit_stage("segments", segs)

    store.set_meta({
        "parent": parent_store.path,
        "n_salts": n_salts, "chain": index.chain, "block_size": bs,
        "positions": positions, "built_avgdl": index.avgdl,
        "key_col": meta.get("key_col"),
        "filter_cols": list(meta.get("filter_cols", []) or []),
        "generation": keep,
    })
    return InvertedIndex(store, spark, index.chain)


def force_merge(
    spark: SparkSession,
    index: InvertedIndex,
    out_path: str,
    block_size: int | None = None,
    range_buckets: int | str = "auto",
) -> InvertedIndex:
    """Solr ``optimize`` (``MarcImporter.java:418-442``;
    ``prof_config.properties:62-65`` warns about its 2x-disk cost — same
    trade here: a full re-segment shuffle of the live tf): collapse the
    whole chain into ONE delete-free generation with caps rebuilt tight.
    Old docs are never re-tokenized — the committed packed tf rows are
    the merge input, exactly like Lucene merging stored postings."""
    meta = index.store.get_meta()
    out = incremental_update(
        spark, index, out_path,
        delta_docs=None, deleted_ids=None,
        n_salts=int(meta.get("n_salts", index.n_salts)),
        block_size=int(block_size or meta.get("block_size", 128)),
        range_buckets=range_buckets,
    )
    fcols = list(meta.get("filter_cols", []) or [])
    filt = index.filters if fcols else None
    if filt is not None and not out.store.stage_complete("filters"):
        dels = index.deletes_df()
        if dels is not None and dels.limit(1).count():
            # optimize applies EVERY tombstone physically — the facet
            # counters read filter postings directly, so the applied docs
            # must leave them too (decode → anti-join → re-segment)
            filt = _rebuild_filters_minus(
                filt, dels,
                int(meta.get("n_salts", index.n_salts)),
                int(block_size or meta.get("block_size", 128)))
        out.store.commit_stage("filters", filt)
        out.store.set_meta({"filter_cols": fcols})
        out = InvertedIndex(out.store, spark, out.chain)
    return out


def maybe_compact(
    spark: SparkSession,
    index: InvertedIndex,
    out_path: str,
    max_generations: int = 4,
    keep: int = 1,
) -> InvertedIndex:
    """Auto merge policy: when the chain exceeds ``max_generations``,
    merge the delta tiers back into one (keeping the ``keep`` oldest
    untouched). Returns the (possibly unchanged) index handle."""
    if len(index.stores) <= max_generations:
        return index
    return merge_generations(spark, index, out_path, keep=keep)


def append_delta_multifield(
    spark: SparkSession,
    index,
    out_path: str,
    delta_docs: DataFrame | None = None,
    delete_keys: DataFrame | None = None,
    key_col: str = "url",
    text_col: str = "text",
) -> "object":
    """:func:`append_delta` for the MULTI-FIELD (edismax) index
    (``plans/multifield.py``) — the reference's default handler queries
    this index, so its nightly updates get the same O(|delta|)
    generation model: fresh ids above every ancestor, cumulative
    tombstones masked inside the dismax kernel, per-FIELD stats and the
    field-scoped dictionary exactly adjusted, and per-field block-max
    cap rescaling under avgdl drift (``MultiFieldIndex.segments``).

    Fields, analyzer chain, salts and block size are inherited from the
    base; delete-wins-over-upsert and stage-gated resume match the
    single-field path.
    """
    from ..operators.postings import tokenize_and_count_packed_fields
    from .multifield import FIELD_SEP, MultiFieldIndex

    _guard_out_path(index, out_path)
    meta = index.store.get_meta()
    n_salts = int(meta.get("n_salts", index.n_salts))
    block_size = int(meta.get("block_size", 128))
    sep = meta.get("field_sep", FIELD_SEP)
    chain = index.chain
    # rebuild the (name, token_limit) list from the base fingerprint is
    # not possible (meta keeps names only) — the builder stores limits in
    # meta under "field_limits" when present; default None (whole stream)
    names = list(meta.get("fields", []))
    limits = meta.get("field_limits") or {}
    field_list = [(n, limits.get(n)) for n in names]
    filter_cols = list(meta.get("filter_cols", []) or [])
    if filter_cols and delta_docs is not None:
        missing = [c for c in filter_cols if c not in delta_docs.columns]
        if missing:
            raise ValueError(
                f"base index carries filter postings for {filter_cols}; "
                f"delta_docs lacks column(s) {missing} — fq over the "
                "chain would silently miss the new generation")

    if delta_docs is not None and delete_keys is not None:
        delta_docs = delta_docs.join(
            F.broadcast(delete_keys.select(
                F.col(delete_keys.columns[0]).alias(key_col)).distinct()),
            key_col, "left_anti",
        )
    if delta_docs is not None:
        delta_docs = _dedup_delta(delta_docs, key_col)

    store = IndexStore(out_path)
    store.set_fingerprint(config_fingerprint({
        "parent": index.store.path, "chain": chain, "n_salts": n_salts,
        "block_size": block_size, "key_col": key_col, "fields": names,
        "version": 1, "multifield": True,
    }))

    live = index.docs
    if key_col not in live.columns:
        raise ValueError(
            f"base multifield docs stage lacks key column {key_col!r} "
            "(build with build_multifield_index(key_col=...))")
    keys = None
    if delete_keys is not None:
        keys = delete_keys.select(
            F.col(delete_keys.columns[0]).alias(key_col))
    if delta_docs is not None:
        dk = delta_docs.select(F.col(key_col))
        keys = dk if keys is None else keys.union(dk)
    tombstones = None
    if keys is not None:
        tombstones = live.join(
            F.broadcast(keys.distinct()), key_col
        ).select("doc_id").persist()

    old_dels = index.deletes_df()
    new_dels = None
    if tombstones is not None:
        new_dels = tombstones.select("doc_id")
        if old_dels is not None:
            new_dels = old_dels.select("doc_id").union(new_dels).distinct()
    elif old_dels is not None:
        new_dels = old_dels.select("doc_id")
    if new_dels is not None and not store.stage_complete("deletes"):
        store.commit_stage("deletes", new_dels, partition_sort=["doc_id"])
    if new_dels is not None:
        _commit_del_segments(
            store, store.read_stage(spark, "deletes"), n_salts, block_size)

    # removed per-field contributions need the tombstoned docs' tf rows
    removed_tf = None
    if tombstones is not None:
        chain_tf = None
        for st in index.stores:
            t = st.read_stage(spark, "tf")
            chain_tf = t if chain_tf is None else chain_tf.unionByName(t)
        removed_tf = chain_tf.join(
            F.broadcast(tombstones), "doc_id").persist()

    if delta_docs is not None:
        all_docs = None
        for st in index.stores:
            d = st.read_stage(spark, "docs").select("doc_id")
            all_docs = d if all_docs is None else all_docs.union(d)
        next_id = int(
            all_docs.agg(F.max("doc_id")).collect()[0][0] or -1) + 1
        with_ids = assign_doc_ids(
            delta_docs.select(
                *dict.fromkeys([key_col, text_col] + filter_cols)),
            key_col=key_col,
        ).withColumn("doc_id", F.col("doc_id") + F.lit(next_id))
        if not store.stage_complete("tf"):
            store.commit_stage("tf", tokenize_and_count_packed_fields(
                with_ids, field_list, key_col="doc_id", text_col=text_col,
                chain=chain, sep=sep))
        tf_stage = store.read_stage(spark, "tf")
        if not store.stage_complete("docs"):
            f0 = names[0]
            doc_tbl = tf_stage.filter(F.col("field") == f0).select("doc_id")
            if key_col != "doc_id":
                doc_tbl = doc_tbl.join(
                    with_ids.select("doc_id", key_col), "doc_id")
            store.commit_stage("docs", doc_tbl, partition_sort=["doc_id"])
    else:
        if not store.stage_complete("tf"):
            store.commit_stage(
                "tf", index.store.read_stage(spark, "tf").limit(0))
        if not store.stage_complete("docs"):
            store.commit_stage(
                "docs", index.store.read_stage(spark, "docs").limit(0))
        tf_stage = store.read_stage(spark, "tf")

    if filter_cols and not store.stage_complete("filters"):
        # fq bitsets for the delta generation — chain fq unions every
        # generation's stage (a pure-delete gen commits an empty one),
        # same contract as the single-field append
        from .build import _filter_packed

        if delta_docs is not None:
            fsegs = build_segments_packed(
                _filter_packed(with_ids, filter_cols), avgdl=1.0,
                n_salts=n_salts, block_size=block_size,
            )
        else:
            fsegs = index.store.read_stage(spark, "filters").limit(0)
        store.commit_stage("filters", fsegs)

    # ---- per-field stats adjustment -------------------------------------
    if not store.stage_complete("stats"):
        old_stats = index.store.read_stage(spark, "stats")
        delta_agg = tf_stage.groupBy("field").agg(
            F.count("*").alias("d_n"), F.sum("doc_len").alias("d_t"))
        adj = old_stats.join(delta_agg, "field", "left")
        if removed_tf is not None:
            rm_agg = removed_tf.groupBy("field").agg(
                F.count("*").alias("r_n"), F.sum("doc_len").alias("r_t"))
            adj = adj.join(rm_agg, "field", "left")
        else:
            adj = adj.withColumn("r_n", F.lit(0)).withColumn(
                "r_t", F.lit(0))
        adj = adj.select(
            "field",
            (F.col("n_docs") + F.coalesce("d_n", F.lit(0))
             - F.coalesce("r_n", F.lit(0))).alias("n_docs"),
            (F.col("total_tokens") + F.coalesce("d_t", F.lit(0))
             - F.coalesce("r_t", F.lit(0))).alias("total_tokens"),
        ).withColumn(
            "avgdl",
            F.when(F.col("n_docs") > 0,
                   F.col("total_tokens").cast("double")
                   / F.col("n_docs")).otherwise(F.lit(0.0)),
        ).select("field", "n_docs", "avgdl", "total_tokens")
        store.commit_stage("stats", adj)
    new_favg = {r["field"]: float(r["avgdl"])
                for r in store.read_stage(spark, "stats").collect()}

    # ---- delta segments (per-field avgdl, built tight) ------------------
    if not store.stage_complete("segments"):
        favg = spark.createDataFrame(
            [(f, a) for f, a in new_favg.items()],
            "field string, _favgdl double")
        n_rows = int(store.lineage()["stages"]["tf"]["rows"])
        store.commit_stage("segments", build_segments_packed(
            tf_stage.join(F.broadcast(favg), "field"), avgdl=0.0,
            n_salts=n_salts, block_size=block_size,
            range_buckets=_resolve_range_buckets(
                "auto", spark, n_salts, max(n_rows // max(len(names), 1),
                                            1)),
            avgdl_col="_favgdl",
        ))

    # ---- adjusted field-scoped dictionary -------------------------------
    if not store.stage_complete("dictionary"):
        removed = None
        if removed_tf is not None:
            removed = (
                removed_tf
                .select(F.explode(F.arrays_zip("terms", "tfs")).alias("z"))
                .select(F.col("z.terms").alias("term"),
                        F.col("z.tfs").alias("tf"))
                .groupBy("term")
                .agg(F.count("*").alias("df_rm"),
                     F.sum("tf").alias("cf_rm"))
            )
        delta_dict = store.read_stage(spark, "segments").groupBy(
            "term").agg(F.sum("n_postings").alias("df_add"),
                        F.sum("tf_sum").alias("cf_add"))
        d = index.dictionary.join(delta_dict, "term", "full_outer")
        if removed is not None:
            d = d.join(removed, "term", "full_outer")
        else:
            d = d.withColumn("df_rm", F.lit(0)).withColumn(
                "cf_rm", F.lit(0))
        store.commit_stage("dictionary", d.select(
            "term",
            (F.coalesce("df", F.lit(0)) + F.coalesce("df_add", F.lit(0))
             - F.coalesce("df_rm", F.lit(0))).alias("df"),
            (F.coalesce("cf", F.lit(0)) + F.coalesce("cf_add", F.lit(0))
             - F.coalesce("cf_rm", F.lit(0))).alias("cf"),
        ).filter(F.col("df") > 0), partition_sort=["term"])

    store.set_meta({
        "parent": index.store.path, "n_salts": n_salts, "chain": chain,
        "block_size": block_size, "fields": names, "field_sep": sep,
        "field_limits": limits, "multifield": True, "key_col": key_col,
        "filter_cols": filter_cols,
        "built_field_avgdl": new_favg,
        "generation": len(index.stores),
    })
    if tombstones is not None:
        tombstones.unpersist()
    if removed_tf is not None:
        removed_tf.unpersist()
    return MultiFieldIndex(store, spark, chain)


def merge_generations_multifield(
    spark: SparkSession,
    index,
    out_path: str,
    keep: int = 1,
    block_size: int | None = None,
) -> "object":
    """:func:`merge_generations` for the multi-field index: re-segment
    the newest ``len(chain) - keep`` generations' per-(doc, field)
    packed tf rows with caps rebuilt tight at the CURRENT per-field
    avgdl, apply their tombstones physically, carry the rest.
    ``keep=0`` collapses the whole chain (the optimize analog)."""
    from .multifield import FIELD_SEP, MultiFieldIndex

    chain_len = len(index.stores)
    if keep < 0 or keep >= max(chain_len, 1) and keep != 0:
        raise ValueError(f"keep must be in [0, {chain_len - 1}]")
    meta = index.store.get_meta()
    n_salts = int(meta.get("n_salts", index.n_salts))
    bs = int(block_size or meta.get("block_size", 128))
    names = list(meta.get("fields", []))
    sep = meta.get("field_sep", FIELD_SEP)

    merged_stores = (index.stores if keep == 0
                     else index.stores[: chain_len - keep])
    parent_store = None if keep == 0 else index.stores[chain_len - keep]

    store = IndexStore(out_path)
    store.set_fingerprint(config_fingerprint({
        "merge_of": [s.path for s in merged_stores],
        "parent": parent_store.path if parent_store else None,
        "block_size": bs, "multifield": True, "version": 1,
    }))

    merged_tf = None
    merged_docs = None
    for st in merged_stores:
        t = st.read_stage(spark, "tf")
        d = st.read_stage(spark, "docs")
        merged_tf = t if merged_tf is None else merged_tf.unionByName(t)
        merged_docs = (d if merged_docs is None else
                       merged_docs.unionByName(d,
                                               allowMissingColumns=True))

    dels = index.deletes_df()
    carried = None
    applied = None
    if dels is not None:
        merged_ids = merged_docs.select("doc_id")
        applied = dels.join(merged_ids, "doc_id", "left_semi").persist()
        carried = dels.join(merged_ids, "doc_id", "left_anti")
        if applied.limit(1).count() == 0:
            applied.unpersist()
            applied = None
        else:
            merged_tf = merged_tf.join(
                F.broadcast(applied), "doc_id", "left_anti")
            merged_docs = merged_docs.join(
                F.broadcast(applied), "doc_id", "left_anti")
        if keep == 0 or carried.limit(1).count() == 0:
            carried = None
    if carried is not None:
        store.commit_stage("deletes", carried, partition_sort=["doc_id"])
        _commit_del_segments(
            store, store.read_stage(spark, "deletes"), n_salts, bs)

    store.commit_stage("tf", merged_tf)
    store.commit_stage("docs", merged_docs, partition_sort=["doc_id"])
    store.commit_stage("stats", index.store.read_stage(spark, "stats"))
    store.commit_stage("dictionary", index.dictionary,
                       partition_sort=["term"])
    if all(st.stage_complete("filters") for st in merged_stores):
        # only the MERGED tiers' filter rows move into this store (the
        # kept ancestor keeps its own stage — the chain union would
        # double-count its rows otherwise), minus applied tombstones
        # (facet counters count filter postings directly)
        fparts = [st.read_stage(spark, "filters") for st in merged_stores]
        filt = fparts[0]
        for p in fparts[1:]:
            filt = filt.unionByName(p, allowMissingColumns=True)
        if applied is not None:
            filt = _rebuild_filters_minus(filt, applied, n_salts, bs)
        store.commit_stage("filters", filt)
    if applied is not None:
        applied.unpersist()

    favg_map = {f: a for f, (_, a) in index.field_stats.items()}
    favg = spark.createDataFrame(
        [(f, float(a)) for f, a in favg_map.items()],
        "field string, _favgdl double")
    tf = store.read_stage(spark, "tf")
    n_rows = int(store.lineage()["stages"]["tf"]["rows"])
    store.commit_stage("segments", build_segments_packed(
        tf.join(F.broadcast(favg), "field"), avgdl=0.0,
        n_salts=n_salts, block_size=bs,
        range_buckets=_resolve_range_buckets(
            "auto", spark, n_salts,
            max(n_rows // max(len(names), 1), 1)),
        avgdl_col="_favgdl",
    ))

    store.set_meta({
        "parent": parent_store.path if parent_store else None,
        "n_salts": n_salts, "chain": index.chain, "block_size": bs,
        "fields": names, "field_sep": sep,
        "field_limits": meta.get("field_limits") or {},
        "filter_cols": list(meta.get("filter_cols", []) or []),
        "multifield": True, "key_col": meta.get("key_col"),
        "built_field_avgdl": favg_map,
        "generation": keep,
    })
    return MultiFieldIndex(store, spark, index.chain)


def maybe_compact_multifield(
    spark: SparkSession,
    index,
    out_path: str,
    max_generations: int = 4,
    keep: int = 1,
):
    """Auto merge policy for the MULTI-FIELD chain (the multifield twin
    of :func:`maybe_compact`): when the chain exceeds
    ``max_generations``, merge the delta tiers back into one, keeping
    the ``keep`` oldest untouched. Returns the (possibly unchanged)
    index handle."""
    if len(index.stores) <= max_generations:
        return index
    return merge_generations_multifield(spark, index, out_path, keep=keep)
