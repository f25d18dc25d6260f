"""The end-to-end ingestion pipeline (SURVEY.md §3.3): documents → parse →
chunk → embed (with content-addressed cache skip) → chunks + chunk_vectors.

Reference flow (IngestionPipeline.IngestAsync, IngestionPipeline.cs:96-414):
sha256 → parse (P4) → chunk (C1-C7) → embedding cache lookup (E2) → embed
misses (E1) → staged batch sink (S7), with generation staleness guards (M5).

Batch re-expression: ONE job over all pending documents —
 1. ``chunk_documents`` (pandas-UDF strategy + posexplode) → chunks
 2. anti-join against existing vectors on (content_hash, model_id) → only
    new content is embedded (E2's classic Spark incremental pattern)
 3. embed via the pluggable embedder column fn (JVM hash-embedder default;
    Arrow-batched pandas UDF for real providers)
 4. union cache hits (carried vectors) + fresh embeds → chunk_vectors
Last-writer-wins (M5) is a ``row_number`` over (doc, chunk_index) by
generation — no interactive locking; the batch is the transaction.

Scale: steps 1-3 are map-side only (zero shuffle before the sink); the
cache anti-join shuffles on content_hash — exactly the key it is stored
sorted/partitioned by, so it co-locates.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from connapse_spark.functions.embed import DEFAULT_DIMS, embed_expr
from connapse_spark.operators.chunkers import ChunkingSettings
from connapse_spark.operators.chunking import chunk_documents


def _stem_fn_for(stemmer: str):
    """The query-side stem function matching a layout's recorded analyzer
    (None = the default JVM suffix stripper, which query tiers apply
    themselves)."""
    if stemmer == "porter2":
        from connapse_spark.functions.porter2 import porter2_stem

        return porter2_stem
    return None


def ingest(
    docs: DataFrame,
    existing_vectors: DataFrame | None = None,
    strategy: str = "Recursive",
    settings: ChunkingSettings | None = None,
    model_id: str = "hash-64",
    dims: int = DEFAULT_DIMS,
    id_col: str = "doc_id",
    text_col: str = "text",
    ext_col: str | None = None,
    embedder: Column | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Run the full pipeline. Returns (chunks, chunk_vectors).

    chunks:        (chunk_id, document_id, content, chunk_index, token_count,
                    start_offset, end_offset, metadata, content_hash)
    chunk_vectors: (chunk_id, document_id, content_hash, model_id,
                    dimensions, embedding, from_cache)

    With ``existing_vectors`` the chunk subtree appears on both sides of
    the cache join (the batch's hash set narrows the cache), so persist
    the returned ``chunks`` before materializing ``vectors`` to run the
    chunker once — ``ingest_stats`` / ``ingest_serving*`` already do.
    """
    chunks = chunk_documents(
        docs, strategy=strategy, settings=settings, id_col=id_col,
        text_col=text_col, ext_col=ext_col,
    ).withColumn("content_hash", F.sha2(F.col("content"), 256))

    emb = embedder if embedder is not None else embed_expr(F.col("content"), dims)

    if existing_vectors is not None:
        cache = existing_vectors.filter(
            (F.col("model_id") == model_id) & (F.col("dimensions") == dims)
        ).select("content_hash", F.col("embedding").alias("_cached"))
        # one vector per hash (content-addressed): hashes are unique keys in
        # the vectors table by construction; dropDuplicates guards anyway
        cache = cache.dropDuplicates(["content_hash"])
        # narrow the cache to THIS batch's hashes before it joins in: the
        # stored vectors table may be corpus-sized (the incremental path
        # passes the whole committed snapshot) and a forced broadcast of it
        # would hit the 8 GB cap — after the semi-join the cache side is
        # bounded by the batch, and AQE broadcasts it at runtime when small
        batch_hashes = chunks.select("content_hash").distinct()
        cache = cache.join(batch_hashes, "content_hash", "left_semi")
        joined = chunks.join(cache, "content_hash", "left")
        vectors = joined.select(
            "chunk_id",
            "document_id",
            "content_hash",
            F.lit(model_id).alias("model_id"),
            F.lit(dims).alias("dimensions"),
            F.coalesce(F.col("_cached"), emb).alias("embedding"),
            F.col("_cached").isNotNull().alias("from_cache"),
        )
    else:
        vectors = chunks.select(
            "chunk_id",
            "document_id",
            "content_hash",
            F.lit(model_id).alias("model_id"),
            F.lit(dims).alias("dimensions"),
            emb.alias("embedding"),
            F.lit(False).alias("from_cache"),
        )
    return chunks, vectors


def ingest_stats(chunks: DataFrame, vectors: DataFrame) -> DataFrame:
    """Per-document ingestion summary (the batch 'job status' row):
    chunk_count, token_sum, cache hit ratio — what the reference writes back
    onto documents (chunk_count, status Ready; IngestionPipeline.cs:357-363)."""
    # vectors' plan contains chunks' plan as a subtree (built from it in
    # ingest()); without a barrier the pandas-UDF chunker runs once per
    # aggregation branch. Persist substitutes the cached relation into both.
    chunks = chunks.persist()
    c = chunks.groupBy("document_id").agg(
        F.count(F.lit(1)).alias("chunk_count"),
        F.sum("token_count").alias("token_sum"),
    )
    v = vectors.groupBy("document_id").agg(
        F.sum(F.col("from_cache").cast("long")).alias("cached_vectors"),
        F.count(F.lit(1)).alias("total_vectors"),
    )
    return (
        c.join(v, "document_id")
        .withColumn("status", F.lit("Ready"))
        .orderBy("document_id")
    )


def ingest_serving(
    docs: DataFrame,
    base_dir: str | None = None,
    existing_vectors: DataFrame | None = None,
    strategy: str = "Recursive",
    settings: ChunkingSettings | None = None,
    model_id: str = "hash-64",
    dims: int = DEFAULT_DIMS,
    id_col: str = "doc_id",
    text_col: str = "text",
    ext_col: str | None = None,
    embedder: Column | None = None,
    nprobe: int = 4,
    stemmer: str = "suffix",
) -> dict:
    """The COMPLETE write path: one :func:`ingest` run feeding EVERY
    serving structure the query side reads — the batch re-expression of
    what the reference gets implicitly from Postgres (the GIN index and
    the ivfflat partial index are maintained by the same INSERT that
    lands the chunk rows; IngestionPipeline.cs:96-414 +
    KnowledgeDbContext.cs:232-245 + VectorColumnManager.cs:14-194).

    ``stemmer`` picks the weight-B analyzer for EVERY keyword structure
    this layout commits (``"suffix"`` default, ``"porter2"`` — see
    ``keyword_index.build_token_table``) and is RECORDED in the serving
    manifest: incremental waves inherit it, :func:`load_serving` hands
    back the matching ``stem_fn``, and a mismatched explicit override on
    a later wave raises instead of silently splitting the index across
    analyzers (r11 — previously the porter2 tier existed only for ad-hoc
    bundles; the committed layout always tokenized with the default).

    Returns a dict: ``chunks``, ``vectors``, ``keyword_index`` (the
    KeywordIndex bundle ``hybrid_search(keyword_index=…)`` serves from:
    the token table plus the tf pair), ``tf_postings`` (the same
    (tf_exact, tf_stemmed) pair, which the batched tiers serve from),
    ``positions_postings`` and ``vector_index`` (the IVF bundle for
    ``hybrid_search(vector_index=…)``).

    ``chunks`` AND ``vectors`` are persisted here so the pandas-UDF
    chunker and the embedder each execute ONCE and feed all structures
    (same barrier rationale as ingest_stats — the KMeans fit alone makes
    several passes over the vectors); the caller unpersists both via
    ``result["chunks"].unpersist()`` / ``result["vectors"].unpersist()``
    when the serving structures are materialized or committed. The IVF
    build is always the MLlib fit: chunk_ids are strings ("doc:idx"),
    which the seeded builder's numeric list_id-from-seed-id trick cannot
    represent.

    With ``base_dir`` EVERY structure commits through the snapshot layer
    as an atomically-visible version — ``chunks/``, ``chunk_vectors/``,
    ``tf_postings/`` and ``positions_postings/`` (kind-partitioned),
    ``tokens/``, and the IVF bundle at ``ivf_index/`` (list_id-partitioned,
    pruning intact) + ``ivf_centroids/`` — and a ROOT SERVING MANIFEST publishes
    LAST (:func:`publish_serving`), pinning the versions that form this
    wave's consistent cut; :func:`load_serving` opens exactly that cut,
    so a crash between table commits can never serve torn state (the
    cross-table transactionality Postgres gives the reference for
    free)."""
    from connapse_spark.operators import keyword_index as ki
    from connapse_spark.plans import ivf as _ivf

    chunks, vectors = ingest(
        docs,
        existing_vectors=existing_vectors,
        strategy=strategy,
        settings=settings,
        model_id=model_id,
        dims=dims,
        id_col=id_col,
        text_col=text_col,
        ext_col=ext_col,
        embedder=embedder,
    )
    chunks = chunks.persist()
    vectors = vectors.persist()
    n_chunks = chunks.count()  # materialize the barrier; sizes the lists policy

    tokens = ki.build_token_table(
        chunks, id_col="chunk_id", text_col="content", stemmer=stemmer
    )
    if base_dir is not None:
        # the commit fan-out below evaluates this table ~6 times (two tf
        # builds + doclen inside tf_all, two positions builds, the tokens
        # commit) — without the barrier each is a full corpus
        # re-tokenize. Released after publish; the returned bundles
        # recompute lazily like before.
        tokens = tokens.persist()
    tfe = ki.build_tf_postings(tokens, "tokens_exact")
    tfs = ki.build_tf_postings(tokens, "tokens_stemmed")
    kidx = ki.KeywordIndex(tokens, tfe, tfs, stem_fn=_stem_fn_for(stemmer))
    pos_e = ki.build_positions_postings(tokens, "tokens_exact")
    pos_s = ki.build_positions_postings(tokens, "tokens_stemmed")
    vidx = _ivf.build_vector_index(
        vectors,
        n_lists=_ivf.ivf_n_lists(n_chunks),
        nprobe=nprobe,
        id_col="chunk_id",
        vec_col="embedding",
        n_rows=n_chunks,
    )
    if base_dir is not None:
        import os

        from connapse_spark.sources import snapshots

        tables = {}
        # chunk_id blooms (r9): hits fetch their contents/vectors by
        # chunk_id point reads — hash-like keys where range stats prune
        # nothing; scan_pruned_keys opens O(k) files instead of the store
        tables["chunks"] = snapshots.commit_snapshot(
            chunks, os.path.join(base_dir, "chunks"), bloom_cols=["chunk_id"]
        )
        tables["chunk_vectors"] = snapshots.commit_snapshot(
            vectors,
            os.path.join(base_dir, "chunk_vectors"),
            bloom_cols=["chunk_id"],
        )
        # doclen rides the same snapshot (kind='doclen', term='', tf=dl):
        # BM25 mixes tf rows and lengths from ONE corpus version, so they
        # must share an atomic commit — see keyword_index.read_doclen
        tables["tf_postings"] = snapshots.commit_snapshot(
            ki.build_tf_all(tokens).sortWithinPartitions("kind", "term"),
            os.path.join(base_dir, "tf_postings"),
            partition_by=["kind"],
        )
        # positions postings persist too (r10): the phrase / proximity /
        # batched-websearch tiers serve from (term, id, positions) — without
        # this table a restart could not answer a quoted phrase from disk.
        # The GIN-with-positions storage trade, applied to the layout.
        tables["positions_postings"] = snapshots.commit_snapshot(
            ki.build_positions_all(tokens).sortWithinPartitions("kind", "term"),
            os.path.join(base_dir, "positions_postings"),
            partition_by=["kind"],
        )
        # the single-query serving bundle is the token table + the tf
        # rows above: hybrid_search(keyword_index=…) scores a plain query
        # from the tf rows alone; the websearch tier screens candidates
        # there and verifies phrases on the stored token arrays
        tables["tokens"] = snapshots.commit_snapshot(
            tokens, os.path.join(base_dir, "tokens")
        )
        # the IVF bundle goes through the snapshot layer too — versioned,
        # list_id-partitioned (pruning intact), and pinnable by the root
        # serving manifest like every other structure
        tables["ivf_index"] = snapshots.commit_snapshot(
            vidx.index.select("id", "list_id", "vec", "norm")
            .repartition("list_id")
            .sortWithinPartitions("list_id", "id"),
            os.path.join(base_dir, "ivf_index"),
            partition_by=["list_id"],
        )
        tables["ivf_centroids"] = snapshots.commit_snapshot(
            vidx.centroids, os.path.join(base_dir, "ivf_centroids")
        )
        publish_serving(
            base_dir,
            tables,
            model_id=model_id,
            dims=dims,
            nprobe=nprobe,
            stemmer=stemmer,
        )
        tokens.unpersist()
    return {
        "chunks": chunks,
        "vectors": vectors,
        "keyword_index": kidx,
        "tf_postings": (tfe, tfs),
        "positions_postings": (pos_e, pos_s),
        "vector_index": vidx,
    }


# the row-level payload tables a serving layout maintains by the
# tombstone-clock fold: (table, its pending delta, the keyword_index
# builder of its rows from a token table)
PAYLOAD_TABLES = (
    ("tf_postings", "tf_pending", "build_tf_all"),
    ("positions_postings", "positions_pending", "build_positions_all"),
)


def _fold_payload_table(
    spark,
    base_dir: str,
    pinned: dict,
    table: str,
    delta: str,
    build,
    tokens: DataFrame,
    wave: "tuple[DataFrame, DataFrame] | None" = None,
) -> int:
    """THE fold of one payload table of a serving layout: commit the base
    at its pinned version minus tombstoned ids plus each id's
    latest-batch rows from the pinned delta ∪ ``wave`` (this wave's
    in-memory delta; None when compacting), then truncate a pinned delta
    (``keyword_index.truncate_pending``). Returns the committed version.

    ``tokens`` is the token table of the cut being produced (a wave's
    post-copy-on-write version, the pinned one when compacting), which
    every delta is already reflected in. Two rules read it:

    - no base pinned ⇒ ``build(tokens)`` (a layout whose
      cut predates the table — the delta alone would publish the
      delta's ids only);
    - doclen completeness: the folded doclen rows must number one per
      token row, else they are rebuilt from ``tokens`` (a pre-doclen
      base folded with a delta yields a partial, non-empty partition
      that BM25's inner join would silently shrink the corpus by)."""
    import os

    from connapse_spark.operators import keyword_index as ki
    from connapse_spark.sources import snapshots

    if table not in pinned:
        nxt = build(tokens)
    else:
        deltas = [wave] if wave is not None else []
        if delta in pinned:
            deltas.append(
                ki.read_pending(spark, os.path.join(base_dir, delta), pinned[delta])
            )
        fresh, tombs = (reduce(DataFrame.unionByName, side) for side in zip(*deltas))
        nxt = ki.fold_postings(
            snapshots.read_snapshot(
                spark, os.path.join(base_dir, table), version=pinned[table]
            ),
            fresh,
            tombs,
        )
        if table == "tf_postings":
            is_dl = F.col("kind") == "doclen"
            if nxt.filter(is_dl).count() != tokens.count():
                nxt = nxt.filter(~is_dl).unionByName(
                    ki.doclen_partition_rows(ki.build_doclen_table(tokens))
                )
    v = snapshots.commit_snapshot(
        nxt.sortWithinPartitions("kind", "term"),
        os.path.join(base_dir, table),
        partition_by=["kind"],
    )
    if delta in pinned:
        ki.truncate_pending(spark, os.path.join(base_dir, delta))
    return v


def keyword_serving_wave(
    spark,
    base_dir: str,
    batch: DataFrame,
    deleted_ids: DataFrame,
    pinned: dict,
    tf_mode: str = "overwrite",
    id_col: str = "chunk_id",
    text_col: str = "content",
    stemmer: str = "suffix",
) -> dict:
    """Fold ONE batch into EVERY keyword serving structure of an
    ingest_serving layout — the keyword half of
    :func:`ingest_serving_incremental`, factored out so the
    maintenance-mode interleaving fuzz drives the production code
    directly, without paying the chunk/embed/IVF pipeline per wave.

    ``batch`` holds the wave's live rows (``id_col``, ``text_col``);
    ``deleted_ids`` is a one-column ``id`` frame of EVERY affected old
    id (updated ids' prior rows AND deleted-only ids). ``pinned`` is the
    serving cut the wave reads its current state from (manifest
    ``tables`` dict). The token table commits by copy-on-write; each
    payload table (``PAYLOAD_TABLES``) takes the wave as one
    tombstone-clock delta
    (``keyword_index.pending_delta``), and per ``tf_mode``:

    - ``"pending"``: the delta appends to the table's pending dir in
      O(batch) (the GIN-fastupdate regime); the base is untouched and
      its pin carries FORWARD from the previous cut (never
      latest_version — a crashed wave may have advanced a table past the
      published cut). Readers resolve base ∪ delta; fold on a cadence
      with :func:`compact_serving`.
    - ``"overwrite"``: :func:`_fold_payload_table` folds the pinned base,
      the pinned delta and this wave's delta into the next base, commits
      it and truncates the pinned delta.

    A table the cut does not pin yet is built from the post-wave tokens
    in either mode. A legacy ``postings`` (id-list) pin of the cut is
    neither read nor carried forward. Returns the version mapping to
    merge into the wave's serving manifest."""
    import os

    from connapse_spark.operators import keyword_index as ki
    from connapse_spark.sources import snapshots

    tokens_dir = os.path.join(base_dir, "tokens")

    # persisted: feeds the tokens COW and both payload deltas — without
    # the barrier the batch re-tokenizes per action
    tokens_new = ki.build_token_table(
        batch, id_col=id_col, text_col=text_col, stemmer=stemmer
    ).persist()
    try:
        tokens_new.count()
        # token table via chunk-keyed COW, so hybrid_search(keyword_index=…)
        # over a load_serving() of this layout stays fresh across
        # increments; deletions stay a DataFrame end to end (no driver
        # collect on the removal path)
        tokv = snapshots.apply_changes(
            spark, tokens_dir, "id", upserts=tokens_new, delete_keys=deleted_ids
        )
        out = {"tokens": tokv}
        tokens_cut = snapshots.read_snapshot(spark, tokens_dir, version=tokv)
        for table, delta, builder in PAYLOAD_TABLES:
            build = getattr(ki, builder)
            delta_dir = os.path.join(base_dir, delta)
            wave = ki.pending_delta(tokens_new, deleted_ids, build, delta_dir)
            if tf_mode == "pending" and table in pinned:
                out[table] = pinned[table]
                out[delta] = ki.append_pending(delta_dir, *wave)
            else:
                out[table] = _fold_payload_table(
                    spark, base_dir, pinned, table, delta, build, tokens_cut, wave
                )
        return out
    finally:
        tokens_new.unpersist()


def ingest_serving_incremental(
    docs_batch: DataFrame,
    base_dir: str,
    deleted_doc_ids: "list | DataFrame | None" = None,
    strategy: str = "Recursive",
    settings: ChunkingSettings | None = None,
    model_id: str = "hash-64",
    dims: int = DEFAULT_DIMS,
    id_col: str = "doc_id",
    text_col: str = "text",
    ext_col: str | None = None,
    embedder: Column | None = None,
    nprobe: int = 4,
    rebuild_threshold: float = 0.2,
    tf_mode: str = "overwrite",
    stemmer: str | None = None,
) -> dict:
    """The NIGHTLY/CDC twin of :func:`ingest_serving`: fold ONE document
    batch (updates + deletes) into the serving layout an earlier
    ingest_serving committed under ``base_dir`` — the batch analogue of
    the reference re-ingesting changed documents while Postgres maintains
    the GIN/ivfflat indexes row-by-row. Cost per structure, honestly:

    - **wave head — O(batch) on the driver**: the affected document ids
      (the batch's ids plus the deletions) are collected once; the old
      chunk ids are a ``document_id IN (…)`` filter of the pinned chunks
      (no shuffle, no join). The one-model guard reads the vectors
      manifest's per-file ``model_id`` footer stats and scans only files
      whose stats are missing or differ from ``[model_id, model_id]``.
      Precondition (the :func:`snapshots.apply_changes` one): a wave's
      distinct keys fit on the driver; a wave that rewrites most of the
      corpus is a rebuild (:func:`ingest_serving`).
    - **chunks / chunk_vectors / tokens — O(affected files)**: one
      ``snapshots.apply_changes`` each — the affected documents' old
      chunk rows delete (a doc's new version may have FEWER chunks, so
      deletion is by the OLD chunk ids, not by overwrite) and the new
      rows upsert. The copy-on-write probe opens only the files whose
      chunk_id stats and Blooms admit a wave key and rewrites only those
      holding one: a key collect, a probe scan, a staging write and a
      bloom build per table, one atomic version each. Embeddings
      reuse the content-addressed cache: unchanged chunk text carries its
      stored vector (from_cache=true), only novel content pays the
      embedder; the cache narrows to the batch's hashes before joining,
      so the corpus-sized vectors table is never broadcast.
    - **tf_postings / positions_postings — O(table)**: the two payload
      tables take the wave as one tombstone-clock delta
      (:func:`keyword_serving_wave`).
      ``tf_mode="overwrite"`` (default) folds it into each base and
      re-commits the table whole — a term-clustered index cannot use
      keyed copy-on-write (one doc touches every term range); these
      commits are most of a small wave's remaining jobs.
      ``tf_mode="pending"`` appends it to ``tf_pending/`` and
      ``positions_pending/`` in O(batch) (the GIN-fastupdate regime);
      :func:`load_serving` resolves base ∪ delta, and
      :func:`compact_serving` folds on your cadence.
    - **IVF — O(batch) assignment + O(index) version commit**: the
      affected ids anti-join out of the stored index, the batch's vectors
      route to the EXISTING centroids (``ivf_index_upsert`` — no refit),
      and :func:`plans.ivf.maybe_rebuild_index` decides whether corpus
      growth or (on a multi-list index) drift warrants a refit; the
      merged bundle commits as a new snapshot version (an
      index-proportional write).

    Every wave ends by PUBLISHING a root serving manifest
    (:func:`publish_serving`): readers through :func:`load_serving` see
    either the previous complete cut or this one, never a torn mix; a
    crashed wave's partial table commits are invisible, and replaying the
    wave converges (keyed deletes/upserts are idempotent against the
    already-applied state).

    ``stemmer=None`` (default) INHERITS the analyzer the layout's
    manifest records (r11) — the batch tokenizes with the same stemmer
    every prior wave used, so incremental maintenance of a porter2-built
    layout stays coherent with zero caller knowledge. Passing it
    explicitly asserts: a value disagreeing with the manifest raises
    rather than committing a split-analyzer index (half the stemmed
    postings from each analyzer — the silent-0 failure class).

    One layout holds ONE model's pipeline (the assumption every structure
    here shares — chunk-keyed vector deletion and the rebuild gauge are
    only correct within a single model_id/dims config); a vectors table
    carrying other models raises rather than silently destroying their
    rows. Returns {"chunks_version", "vectors_version", "tf_version",
    "vector_index", "rebuilt", "chunks", "vectors"} (the two DataFrames
    stay persisted — same unpersist contract as ingest_serving)."""
    _pinned_dfs: list = []
    # on ANY failure, unpersist everything this wave cached — a
    # long-running driver replaying failed waves must not accumulate
    # orphaned cache (success keeps chunks/vectors pinned per contract)
    try:
        import os

        from connapse_spark.operators import keyword_index as ki
        from connapse_spark.plans import ivf as _ivf
        from connapse_spark.sources import snapshots

        spark = docs_batch.sparkSession
        chunks_dir = os.path.join(base_dir, "chunks")
        vectors_dir = os.path.join(base_dir, "chunk_vectors")
        tf_dir = os.path.join(base_dir, "tf_postings")
        ivf_dir = os.path.join(base_dir, "ivf_index")

        # EVERY "current state" read below pins to the last PUBLISHED serving
        # cut, never to whatever table version happens to be latest: a prior
        # wave that crashed between table commits leaves tables advanced past
        # the manifest, and a replay computing its deletion set from those
        # torn versions would miss the ids the crashed attempt already
        # removed — permanently leaking deleted docs into the keyword/vector
        # structures. Reading the pinned cut makes replay convergent: keyed
        # deletes/upserts re-apply idempotently against the torn tables, and
        # overwrite-mode commits are derived from pinned state outright.
        try:
            cut = snapshots.load_manifest(os.path.join(base_dir, "_serving"))
        except FileNotFoundError as ex:
            raise FileNotFoundError(
                f"{base_dir} has no serving manifest — the layout predates the "
                "r6 serving-manifest format (or was never built by "
                "ingest_serving); re-ingest with ingest_serving to migrate"
            ) from ex
        pinned = cut["tables"]
        # analyzer coherence (r11): tokenize this batch with the analyzer
        # the layout was BUILT with; an explicit disagreeing override is
        # an error, not a preference
        layout_stemmer = cut.get("stemmer", "suffix")
        if stemmer is not None and stemmer != layout_stemmer:
            raise ValueError(
                f"stemmer={stemmer!r} disagrees with the layout's recorded "
                f"analyzer {layout_stemmer!r}: an incremental wave cannot "
                "change the analyzer (the stemmed postings would mix both "
                "token vocabularies) — rebuild via ingest_serving(stemmer=…)"
            )
        eff_stemmer = layout_stemmer

        # affected documents = this batch's ids ∪ explicit deletions, as a
        # driver set (one job): a wave's keys live on the driver, like the
        # manifests and touched-file lists of the commits below
        id_frames = [docs_batch.select(id_col)]
        listed = []
        if isinstance(deleted_doc_ids, DataFrame):
            id_frames.append(deleted_doc_ids)
        elif deleted_doc_ids:
            listed = [i for i in deleted_doc_ids if i is not None]
        affected = list(dict.fromkeys(snapshots.driver_keys(id_frames) + listed))

        cur_chunks = snapshots.read_snapshot(spark, chunks_dir, version=pinned["chunks"])
        old_chunk_ids = cur_chunks.filter(
            snapshots.keys_in("document_id", affected) if affected else F.lit(False)
        ).select("chunk_id")

        # one layout, one model: the manifest's per-file model_id footer
        # stats clear every file pinned to [model_id, model_id]; only files
        # without such stats are scanned, so the guard stays conservative
        vectors_m = snapshots.load_manifest(vectors_dir, pinned["chunk_vectors"])
        unsure = [
            e["path"]
            for e in vectors_m["files"]
            if (e.get("stats") or {}).get("model_id") != [model_id, model_id]
        ]
        other_models = (
            snapshots.read_snapshot_files(
                spark, vectors_dir, unsure, version=pinned["chunk_vectors"]
            )
            .filter(F.col("model_id") != model_id)
            .select("model_id")
            .take(1)
            if unsure
            else []
        )
        if other_models:
            raise ValueError(
                f"chunk_vectors at {vectors_dir} holds model_id="
                f"{other_models[0]['model_id']!r} besides {model_id!r}: incremental "
                "maintenance is per-layout (chunk-keyed deletion would destroy the "
                "other model's rows) — keep one base_dir per model/config"
            )
        cur_vectors = snapshots.read_snapshot(
            spark, vectors_dir, version=pinned["chunk_vectors"]
        )
        chunks, vectors = ingest(
            docs_batch,
            existing_vectors=cur_vectors,
            strategy=strategy,
            settings=settings,
            model_id=model_id,
            dims=dims,
            id_col=id_col,
            text_col=text_col,
            ext_col=ext_col,
            embedder=embedder,
        )
        chunks = chunks.persist()
        vectors = vectors.persist()
        _pinned_dfs.extend([chunks, vectors])
        chunks.count()

        cv = snapshots.apply_changes(
            spark, chunks_dir, "chunk_id", upserts=chunks, delete_keys=old_chunk_ids
        )
        vv = snapshots.apply_changes(
            spark, vectors_dir, "chunk_id", upserts=vectors, delete_keys=old_chunk_ids
        )

        # keyword side: remove every affected old chunk id, add the batch's
        # rows — the whole family (tokens COW, tf/doclen,
        # positions, both maintenance regimes) lives in keyword_serving_wave
        # so the interleaving fuzz drives the PRODUCTION branch logic
        # without paying the chunk/embed/IVF pipeline per wave (r11)
        deleted_ids = old_chunk_ids.select(F.col("chunk_id").alias("id"))
        kw = keyword_serving_wave(
            spark,
            base_dir,
            chunks,
            deleted_ids,
            pinned,
            tf_mode=tf_mode,
            id_col="chunk_id",
            text_col="content",
            stemmer=eff_stemmer,
        )
        tokv = kw["tokens"]
        tfv = kw["tf_pending"] if tf_mode == "pending" else kw["tf_postings"]

        # vector side: anti-join affected ids, route the batch, gauge rebuild.
        # The bundle lives in the snapshot layer (versioned + pinnable by the
        # serving manifest); a commit writes NEW version files, so there is no
        # read-path/overwrite conflict to checkpoint around.
        stored_index = snapshots.read_snapshot(
            spark, ivf_dir, version=pinned["ivf_index"]
        ).select("id", F.col("list_id").cast("bigint").alias("list_id"), "vec", "norm")
        stored_centroids = snapshots.read_snapshot(
            spark, os.path.join(base_dir, "ivf_centroids"), version=pinned["ivf_centroids"]
        )
        cleaned = stored_index.join(
            old_chunk_ids.select(F.col("chunk_id").alias("id")), "id", "left_anti"
        )
        merged = _ivf.ivf_index_upsert(
            cleaned, stored_centroids, vectors, id_col="chunk_id", vec_col="embedding"
        )
        vidx = _ivf.VectorIndex(index=merged, centroids=stored_centroids, nprobe=nprobe)
        # gauge and (if needed) refit over the version THIS wave committed —
        # not "latest", which a concurrent torn wave could in principle move
        live_vectors = (
            snapshots.read_snapshot(spark, vectors_dir, version=vv)
            .filter((F.col("model_id") == model_id) & (F.col("dimensions") == dims))
            .select(F.col("chunk_id"), F.col("embedding"))
        )
        rebuilt, vidx = _ivf.maybe_rebuild_index(
            vidx,
            live_vectors,
            threshold=rebuild_threshold,
            dims=dims,
            id_col="chunk_id",
            vec_col="embedding",
        )
        # one sorted file set per list (the layout-as-index discipline): the
        # merged plan is a union of shuffled subtrees that would otherwise
        # fragment into a file per (task, list) pair every wave
        ivf_v = snapshots.commit_snapshot(
            vidx.index.select("id", "list_id", "vec", "norm")
            .repartition("list_id")
            # the writer requires child ordering by the partition columns —
            # leading with list_id avoids a second writer-side sort and
            # actually guarantees the within-list id order
            .sortWithinPartitions("list_id", "id"),
            ivf_dir,
            partition_by=["list_id"],
        )
        cent_v = snapshots.commit_snapshot(
            vidx.centroids, os.path.join(base_dir, "ivf_centroids")
        )
        # rebind the returned bundle to the JUST-COMMITTED versions: the lazy
        # merge plan would otherwise recompute on every use and break once its
        # superseded input version is vacuumed
        vidx = _ivf.VectorIndex(
            index=snapshots.read_snapshot(spark, ivf_dir, version=ivf_v).select(
                "id", F.col("list_id").cast("bigint").alias("list_id"), "vec", "norm"
            ),
            centroids=snapshots.read_snapshot(
                spark, os.path.join(base_dir, "ivf_centroids"), version=cent_v
            ),
            nprobe=nprobe,
        )
        sv = publish_serving(
            base_dir,
            {
                "chunks": cv,
                "chunk_vectors": vv,
                **kw,
                "ivf_index": ivf_v,
                "ivf_centroids": cent_v,
            },
            model_id=model_id,
            dims=dims,
            nprobe=nprobe,
            stemmer=eff_stemmer,
        )
        return {
            "chunks_version": cv,
            "vectors_version": vv,
            "tf_version": tfv,
            "serving_version": sv,
            "vector_index": vidx,
            "rebuilt": rebuilt,
            "chunks": chunks,
            "vectors": vectors,
        }
    except BaseException:
        for _df in _pinned_dfs:
            try:
                _df.unpersist()
            except Exception:
                pass
        raise


def publish_serving(base_dir: str, tables: dict, **meta) -> int:
    """Atomically publish a SERVING VERSION: one root manifest recording
    which version of EVERY structure belongs to this wave — the
    cross-table transactionality the reference gets from Postgres (one
    COMMIT covers the chunk rows, the GIN index, and the ivfflat index).
    Our per-table snapshot commits are individually atomic but a crash
    mid-wave would otherwise leave a torn cut (new chunks, stale
    postings); readers going through :func:`load_serving` only ever see
    cuts a completed wave published, because this manifest is written
    LAST. Same write-then-link publish (and optimistic concurrency) as
    table manifests. Retention note: vacuum each table with a keep_last
    that covers every serving manifest you intend to keep openable."""
    import os

    from connapse_spark.sources import snapshots

    return snapshots.publish_root(
        os.path.join(base_dir, "_serving"), {"tables": dict(tables), **meta}
    )


def load_serving(
    spark, base_dir: str, serving_version: int | None = None, nprobe: int | None = None
) -> dict:
    """Reopen EVERYTHING an :func:`ingest_serving` layout committed, as
    the live bundles every query tier takes — the restart story in one
    call: ``keyword_index`` (token table + the tf pair →
    ``hybrid_search(keyword_index=…)``), ``tf_postings`` (the same tf
    pair, for the batched tiers), and ``vector_index`` (snapshot-committed IVF bundle,
    list_id-partitioned so probes prune). Every table opens at the
    version the ROOT SERVING MANIFEST pins (latest complete wave by
    default, or ``serving_version`` for time travel across the whole
    layout at once) — a crashed half-committed wave is invisible. All
    lazy snapshot reads — persist what the serving process keeps hot."""
    import os

    from connapse_spark.operators import keyword_index as ki
    from connapse_spark.plans import ivf as _ivf
    from connapse_spark.sources import snapshots

    m = snapshots.load_manifest(os.path.join(base_dir, "_serving"), serving_version)
    pinned = m["tables"]

    def _open(name):
        return snapshots.read_snapshot(
            spark, os.path.join(base_dir, name), version=pinned[name]
        )

    tokens = _open("tokens")
    # the manifest records the analyzer (r11): the bundle carries the
    # matching stem_fn so a porter2-built layout serves coherently with
    # zero caller knowledge — the exact silent-0 failure class the ad-hoc
    # bundle fix (933b5d2) closed, now closed for the committed layout
    stemmer = m.get("stemmer", "suffix")
    stem_fn = _stem_fn_for(stemmer)

    def _payload(table, delta):
        # a pending-mode cut serves base ∪ delta, both at their pins; None
        # only on a legacy cut that predates the table
        if table not in pinned:
            return None
        if delta not in pinned:
            return _open(table)
        return ki.resolve_pending(
            spark,
            os.path.join(base_dir, table),
            os.path.join(base_dir, delta),
            base_version=pinned[table],
            delta_version=pinned[delta],
        )

    tf = _payload("tf_postings", "tf_pending")
    tf_pair = tuple(
        tf.filter(F.col("kind") == k).select("term", "id", "tf")
        for k in ("exact", "stemmed")
    )
    # the single-query tiers read the same tf rows: the plain tier scores
    # from them, the websearch tier screens its candidates there
    kidx = ki.KeywordIndex(tokens, *tf_pair, stem_fn=stem_fn)
    doclen = tf.filter(F.col("kind") == "doclen").select(
        "id", F.col("tf").alias("dl")
    )
    vidx = _ivf.VectorIndex(
        index=_open("ivf_index").select(
            "id", F.col("list_id").cast("bigint").alias("list_id"), "vec", "norm"
        ),
        centroids=_open("ivf_centroids"),
        nprobe=nprobe if nprobe is not None else int(m.get("nprobe", 4)),
    )
    # doclen completeness guard (r10 review finding #1): a pinned base that
    # predates the doclen partition yields a PARTIAL table through either
    # branch — a pending-mode resolve covers only the delta's upserted ids,
    # a pre-r10 overwrite cut has no rows at all — and BM25's inner join
    # would silently drop every uncovered doc (wrong top-k, no error).
    # Lengths are derivable from the pinned tokens table (same cut, always
    # complete, COW-maintained every wave regardless of tf_mode), so when
    # the doclen row count disagrees with the token table's, serve derived
    # lengths instead. Two metadata-cheap counts, paid once per restart.
    if doclen.count() != tokens.count():
        doclen = ki.build_doclen_table(tokens)
    # (term, id, positions) pair for the phrase/proximity/batched-websearch
    # tiers; positions ride their own pending delta on the same clock, so
    # phrase serving stays fresh through pending waves
    pos = _payload("positions_postings", "positions_pending")
    pos_pair = (
        None
        if pos is None
        else tuple(
            pos.filter(F.col("kind") == k).select("term", "id", "positions")
            for k in ("exact", "stemmed")
        )
    )
    return {
        "keyword_index": kidx,
        "tf_postings": tf_pair,
        # (id, dl) for keyword_search_bm25_indexed — same pinned cut as the
        # tf rows it mixes with (r10; empty on pre-doclen legacy layouts)
        "doclen": doclen,
        "positions_postings": pos_pair,
        "vector_index": vidx,
        "serving_version": m["version"],
        "tables": pinned,
        # the layout's recorded analyzer + matching query-side stem fn
        # (r11): pass stem_fn to the tiers that stem query terms
        # driver-side (bm25_indexed, websearch/proximity, the fast batch
        # tier) so a porter2 layout cannot be silently mis-queried
        "stemmer": stemmer,
        "stem_fn": stem_fn,
    }


def compact_serving(spark, base_dir: str) -> int | None:
    """Fold a serving layout's outstanding pending deltas into their
    bases and PUBLISH the repinned cut — :func:`_fold_payload_table`
    with no wave delta, per pinned delta, at the PINNED versions (never
    latest: a crashed wave's torn commits must not launder in). The
    published cut pins the new bases and drops the pending pins; older
    cuts keep reading their pinned versions.

    No-op (returns None) when the current cut has no pending pins.
    Single-writer discipline like the waves themselves: don't run
    concurrently with an in-flight wave. Returns the new serving
    version."""
    import os

    from connapse_spark.operators import keyword_index as ki
    from connapse_spark.sources import snapshots

    m = snapshots.load_manifest(os.path.join(base_dir, "_serving"))
    pinned = dict(m["tables"])
    pending = [row for row in PAYLOAD_TABLES if row[1] in pinned]
    if not pending:
        return None
    tokens = snapshots.read_snapshot(
        spark, os.path.join(base_dir, "tokens"), version=pinned["tokens"]
    )
    for table, delta, builder in pending:
        pinned[table] = _fold_payload_table(
            spark, base_dir, pinned, table, delta, getattr(ki, builder), tokens
        )
        del pinned[delta]
    meta = {k: v for k, v in m.items() if k not in ("tables", "version")}
    return publish_serving(base_dir, pinned, **meta)


def vacuum_serving(
    base_dir: str, keep_last_cuts: int = 2, min_age_seconds: float = 24 * 3600
) -> dict:
    """Retention for the WHOLE serving layout, pin-aware: keep the newest
    ``keep_last_cuts`` root serving manifests, delete the older ones, then
    vacuum every pinned table so it keeps exactly the versions some
    retained cut still pins (and everything newer — a torn wave's
    advanced-but-unpublished versions survive until the next complete
    wave supersedes them). This is the missing half of
    :func:`publish_serving`'s contract: per-table ``vacuum_snapshot``
    knows nothing about cross-table pins, so calling it directly can
    delete a version an older serving cut needs; route retention for
    ingest_serving layouts through here instead.
    ``min_age_seconds`` inherits vacuum_snapshot's 24h in-flight-commit
    guard: a wave stages data files BEFORE the manifest that references
    them exists, so deleting young unreferenced files can corrupt a
    commit about to publish — pass 0 only when no writer can be active.
    Tables pinned only by DROPPED cuts (e.g. a pending delta after
    switching back to overwrite mode) vacuum down to their latest
    version. Returns {table: vacuum stats} plus
    "serving_manifests_deleted"."""
    import os

    from connapse_spark.sources import snapshots

    if keep_last_cuts < 1:
        raise ValueError("vacuum_serving: keep_last_cuts must be >= 1")
    sdir = os.path.join(base_dir, "_serving")
    versions = snapshots._list_versions(sdir)
    if not versions:
        raise FileNotFoundError(f"no serving manifest at {sdir}")
    retained = versions[-keep_last_cuts:]
    dropped = [v for v in versions if v not in retained]
    # oldest pinned version per table across the RETAINED cuts
    min_pin: dict = {}
    for v in retained:
        m = snapshots.load_manifest(sdir, v)
        for table, tv in m["tables"].items():
            if tv is None:
                continue
            min_pin[table] = min(min_pin.get(table, tv), tv)
    dropped_only: set = set()
    for v in dropped:
        m = snapshots.load_manifest(sdir, v)
        dropped_only |= set(m["tables"]) - set(min_pin)
    stats: dict = {}
    for table, pin in sorted(min_pin.items()):
        tdir = os.path.join(base_dir, table)
        latest = snapshots.latest_version(tdir)
        if latest is None:
            continue
        # keep_last counts back from latest; pinned and newer all survive
        keep = latest - pin + 1
        stats[table] = snapshots.vacuum_snapshot(
            tdir, keep_last=keep, min_age_seconds=min_age_seconds
        )
    for table in sorted(dropped_only):
        # pinned only by cuts we just dropped: nothing references its
        # history any more — keep the latest version only
        tdir = os.path.join(base_dir, table)
        if snapshots.latest_version(tdir) is not None:
            stats[table] = snapshots.vacuum_snapshot(
                tdir, keep_last=1, min_age_seconds=min_age_seconds
            )
    for v in dropped:
        os.unlink(snapshots._manifest_path(sdir, v))
    stats["serving_manifests_deleted"] = dropped
    return stats
