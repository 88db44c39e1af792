"""Document deduplication: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale posture (the reason each variant exists):
  * exact — one hash-groupBy; O(n) shuffle of (hash, id) pairs only.
  * n-gram Jaccard — exact near-dup metric via a shingle self-join;
    correct but the join fans out quadratically on hot shingles.  Use
    long shingles (k≈20) and/or a document-frequency cap; this is the
    oracle/verification path, not the 100 TB path.
  * MinHash+LSH — the 100 TB path: constant-size signature per doc,
    banding turns near-dup search into an equi-join on (band, sig);
    only candidate pairs are verified.  Everything is derived from
    md5, so results are deterministic and engine-reproducible.
  * SimHash — constant-size bit fingerprint; near-dups have small
    Hamming distance; pairs found by XOR+popcount.

No Python UDFs anywhere — shingling, hashing, minhashing and banding
are all built-in column expressions, so the hot path stays in
whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Mersenne prime 2^31-1; h is reduced mod p before a*h+b so products
# stay < 2^62 (no ANSI long overflow).
MERSENNE_P = 2_147_483_647


def _release_on_gc(result: DataFrame, cached: DataFrame) -> DataFrame:
    """Unpersist ``cached`` when ``result`` is garbage collected.

    The pair functions persist a shared shingle/signature intermediate
    that the lazily-returned result plan consumes more than once; the
    function cannot unpersist before returning (the caller has not
    materialized yet), and leaving it to session end accumulates
    cache-manager entries in long-running sessions.  A weakref
    finalizer ties the cache entry to the RESULT's lifetime, so a
    caller that collects and drops the result releases the cache
    without holding a handle to the internals.  (``localCheckpoint``
    blocks get no such release: they stay registered until the JVM
    collects their plan, which a Python GC does not force.)  Unpersist is non-blocking and exceptions are swallowed
    (the session may already be gone at interpreter shutdown)."""
    import weakref

    jdf = cached._jdf

    def _release(jdf=jdf):
        try:
            jdf.unpersist(False)
        except Exception:  # noqa: BLE001 — session/JVM may be gone
            pass

    weakref.finalize(result, _release)
    return result

# (a, b) parameters for the minhash permutation family h_i = (a*h+b)%p.
# Fixed constants (not random) so Spark and the SQL oracle agree.
def perm_params(n: int) -> list[tuple[int, int]]:
    return [((2 * i + 1) * 40_503 % MERSENNE_P, (i * 1_299_721 + 7) % MERSENNE_P) for i in range(n)]


def shingle_hash(col: Column) -> Column:
    """60-bit integer hash of a shingle: first 15 hex chars of md5.
    (15 hex digits = 60 bits < long range; same formula expressible in
    DuckDB as CAST('0x'||substr(md5(s),1,15) AS BIGINT).)"""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def shingles(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 20,
    unique_ids: bool | None = None,
) -> DataFrame:
    """Distinct character k-shingles per document, exploded long-form.

    Per-document dedup happens MAP-SIDE via ``array_distinct`` on the
    per-row shingle array: a document's shingles all originate from
    its single input row, so this IS exact global (id, shingle)
    distinctness with ZERO exchange — the previous global
    ``.distinct()`` shuffled every k-char shingle string once before
    any consumer did its own aggregation (at 1 M docs ≈ 13 GB of
    strings; removing it cut the minhash headline plan from three
    exchanges to one) — PROVIDED the input carries one row per id,
    the id contract everywhere in this package.

    ``unique_ids`` names that contract at the call site:

    * ``None`` (default) — VERIFY it with one cheap sketch job
      (``count`` vs ``approx_count_distinct(rsd=0.01)`` over the id
      column — no shuffle, one narrow pass) and raise ``ValueError``
      on bulk duplication (the realistic failure: a corpus
      accidentally unioned with itself).  The 5%-slack sketch cannot
      see a HANDFUL of duplicated rows — callers that can't promise
      the contract at all belong on ``unique_ids=False``.
    * ``True`` — caller promises the contract; zero extra jobs (the
      100 TB hot path once the corpus is known-deduplicated).
    * ``False`` — don't assume: an exact global ``(id, shingle)``
      ``.distinct()`` restores correctness for duplicated-id corpora
      at the cost of the shingle-stream exchange described above.

    The transform lambda reads the bound text ATTRIBUTE — not an
    expression tree, so the ``token_ngrams`` interpreted-reevaluation
    trap does not apply; per-element substr is O(k), inherent to
    building the shingle."""
    t = F.col(text_col)
    if unique_ids is None:
        chk = df.agg(
            F.count(id_col).alias("n"),
            F.approx_count_distinct(id_col, rsd=0.01).alias("nd"),
        ).first()
        if chk is not None and chk["n"] > (chk["nd"] or 0) * 1.05:
            raise ValueError(
                f"shingles: ~{chk['n'] - chk['nd']} of {chk['n']} rows share "
                f"a duplicated {id_col!r} — the map-side per-document dedup "
                "is exact only for one row per id.  Collapse the corpus "
                "first (or pass unique_ids=False for an exact global "
                "distinct, unique_ids=True to promise the contract and "
                "skip this check)"
            )
    arr = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.length(t) - (k - 1)),
            lambda i: t.substr(i, F.lit(k)),
        )
    )
    out = (
        df.where(F.length(t) >= k)
        .select(id_col, F.explode(arr).alias("shingle"))
    )
    if unique_ids is False:
        out = out.distinct()
    return out


def exact_duplicates(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact dedup via content-hash groupBy: one row per distinct
    content with the surviving (minimum) id and the copy count."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(F.min(id_col).alias("survivor_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 20,
    threshold: float = 0.5,
    max_df: int | None = 10_000,
    unique_ids: bool | None = None,
) -> DataFrame:
    """Document pairs with shingle-set Jaccard ≥ threshold.

    Self-join on the shingle column; ``max_df`` drops shingles present
    in more than that many documents (hot-key guard — at corpus scale a
    ubiquitous shingle would fan out quadratically, so the cap is ON by
    default; pass ``max_df=None`` for the exact all-shingles result).
    Dropping a shingle shared by >max_df docs shrinks both |∩| and the
    set sizes, so Jaccard for boilerplate-heavy pairs is approximate —
    any caller at corpus scale wants that trade.  Jaccard =
    |∩| / (|A|+|B|−|∩|), exact integers → deterministic double.
    """
    sh = shingles(df, id_col, text_col, k, unique_ids)
    if max_df is not None:
        hot = sh.groupBy("shingle").count().where(F.col("count") > max_df).select("shingle")
        # shuffle_hash: build the tiny >max_df hot-shingle set, stream
        # the corpus-scale shingle stream unsorted (the
        # duplicate_span_mask discipline, guide §3.1 — sort-merge would
        # sort the whole stream just to probe a handful of hot keys)
        sh = sh.join(hot.hint("shuffle_hash"), "shingle", "left_anti")
    # sh feeds sizes + both self-join sides (and the hot filter doubles
    # each consumer's subtree — 8 FileScans measured unpersisted);
    # materialize the tokenize+filter work once
    from pyspark import StorageLevel

    sh = sh.persist(StorageLevel.MEMORY_AND_DISK)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col(id_col).alias("a"), "shingle")
    b = sh.select(F.col(id_col).alias("b"), "shingle")
    # merge hints on every data-sized join side: Catalyst's STATIC size
    # estimate after an aggregate/explode over a non-file source can be
    # arbitrarily small, silently planning a BroadcastHashJoin whose
    # build side is corpus-sized (observed: a 3 GB docinfo broadcast at
    # 1M docs blowing spark.driver.maxResultSize).  The hint pins the
    # shuffle join; AQE still handles skew within it.
    common = (
        a.hint("merge").join(b, "shingle")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    na = sizes.select(F.col(id_col).alias("a"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col(id_col).alias("b"), F.col("n").alias("n_b"))
    jac = F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    # shuffle_hash with the slim doc-count-sized sizes table as build
    # (two fixed-width longs per doc; n_docs/P per partition, AQE grows
    # P with volume): sort-merge was sorting the PAIR-sized ``common``
    # stream twice just to attach per-doc set sizes (guide §3.1).  The
    # sizes side still must never broadcast on a static misestimate
    # (aggregate-derived size estimates are untrustworthy — see the
    # hint note above).
    out = (
        common.join(na.hint("shuffle_hash"), "a")
        .join(nb.hint("shuffle_hash"), "b")
        .withColumn("jaccard", jac)
        .where(F.col("jaccard") >= threshold)
        .select("a", "b", "n_common", "jaccard")
    )
    return _release_on_gc(out, sh)


def _doc_hash_sets(
    df: DataFrame, id_col: str, text_col: str, k: int
) -> DataFrame:
    """(id, __hs0, __n0): the per-document sorted distinct shingle-hash
    array and the distinct shingle-STRING count, computed ENTIRELY
    map-side — a document's shingles all originate from its single
    input row, so per-row array expressions reproduce the exploded
    groupBy exactly (set semantics, within-doc hash collisions
    included: ``__n0`` counts distinct strings like the exploded
    stream's count(*), ``__hs0`` holds distinct hash VALUES like
    collect_set).  Documents shorter than ``k`` yield no row, the
    explode-path contract.  Valid ONLY under one-row-per-id (callers
    run the ``shingles`` guard)."""
    t = F.col(text_col)
    arr = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.length(t) - (k - 1)),
            lambda i: t.substr(i, F.lit(k)),
        )
    )
    base = df.where(F.length(t) >= k).select(id_col, arr.alias("__sarr"))
    return base.select(
        id_col,
        F.array_sort(
            F.array_distinct(
                F.transform(
                    F.col("__sarr"), lambda s: shingle_hash(s) % MERSENNE_P
                )
            )
        ).alias("__hs0"),
        F.size("__sarr").cast("long").alias("__n0"),
    )


def _mh_cols(n_perm: int) -> list[Column]:
    """The n_perm permutation minima as per-row array reductions over
    the bound ``__hs0`` attribute (no re-evaluation trap: ``__hs0`` is
    a projected column, and CollapseProject never inlines a non-cheap
    alias referenced this many times)."""
    def _perm(a: int, b: int):
        # closure factory, NOT a default-arg lambda: a two-arg lambda
        # is parsed as the (element, index) HOF form and would bind
        # the permutation constant to the array index
        return lambda h: (h * a + b) % MERSENNE_P

    return [
        F.array_min(F.transform(F.col("__hs0"), _perm(a, b))).alias(f"mh_{i}")
        for i, (a, b) in enumerate(perm_params(n_perm))
    ]


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 20,
    n_perm: int = 16,
    unique_ids: bool | None = None,
) -> DataFrame:
    """MinHash signature per document.

    r15: computed ENTIRELY map-side (``_doc_hash_sets`` + per-row
    array minima) — zero exchange, no aggregate at all; the previous
    explode + groupBy paid a full shuffle of the shingle stream to
    reassemble per-document state that never left its input row.
    ``unique_ids`` names the one-row-per-id contract (see
    ``shingles``): None runs the cheap sketch guard, True skips it,
    False falls back to the exploded global-distinct aggregate (the
    only form that merges duplicated ids).
    """
    if unique_ids is False:
        sh = shingles(df, id_col, text_col, k, False).withColumn(
            "__h", shingle_hash(F.col("shingle")) % MERSENNE_P
        )
        aggs = [
            F.min((F.col("__h") * a + b) % MERSENNE_P).alias(f"mh_{i}")
            for i, (a, b) in enumerate(perm_params(n_perm))
        ]
        return sh.groupBy(id_col).agg(*aggs)
    if unique_ids is None:
        _check_unique_ids(df, id_col, "minhash_signatures")
    return _doc_hash_sets(df, id_col, text_col, k).select(
        id_col, *_mh_cols(n_perm)
    )


def _check_unique_ids(df: DataFrame, id_col: str, who: str) -> None:
    """The ``shingles`` one-row-per-id sketch guard, shared by the
    map-side signature paths."""
    chk = df.agg(
        F.count(id_col).alias("n"),
        F.approx_count_distinct(id_col, rsd=0.01).alias("nd"),
    ).first()
    if chk is not None and chk["n"] > (chk["nd"] or 0) * 1.05:
        raise ValueError(
            f"{who}: ~{chk['n'] - chk['nd']} of {chk['n']} rows share "
            f"a duplicated {id_col!r} — the map-side per-document "
            "signature is exact only for one row per id.  Collapse "
            "the corpus first (or pass unique_ids=False for the "
            "exploded global-distinct aggregate, unique_ids=True to "
            "promise the contract and skip this check)"
        )


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    n_perm: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Band the signatures and emit candidate pairs: docs sharing any
    band signature.  Banding is ``band_keys`` — the ONE implementation
    the batch and incremental paths share, which is what makes the
    incremental candidates provably equal to the batch candidates
    restricted to batch-touching pairs (pinned by the
    dedup_incremental_minhash oracle).  Equi-join on the fused band
    key — hash-partitioned, skew-safe under AQE, no quadratic scan."""
    banded = band_keys(signatures, id_col, n_perm, bands)
    left = banded.select(F.col(id_col).alias("a"), "bsig")
    right = banded.select(F.col(id_col).alias("b"), "bsig")
    # shuffle_hash: both sides are signature-table-sized (bands rows
    # of (id, bsig) per doc — bounded by the signature store, never
    # the pair volume), so the per-partition hash build is sized by
    # AQE's advisory partition target; a merge hint here paid two
    # sorts of the banded stream (r15: SMJ → SHJ measured faster at
    # sf0.1 and drops both sorts from the 100 TB plan), and a static
    # broadcast stays forbidden either way (aggregate-derived
    # misestimates — see ngram_jaccard_pairs).  AQE skew-split
    # handles hot band buckets for SHJ as it did for SMJ.
    return (
        left.hint("shuffle_hash").join(right, "bsig")
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def minhash_docinfo(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 20,
    n_perm: int = 16,
    unique_ids: bool | None = None,
) -> DataFrame:
    """Per-document dedup state: the ``n_perm`` minhash columns (for
    banding) plus the sorted 60-bit shingle-hash array and its size
    (for exact candidate verification).  This is the SIGNATURE-STORE
    row format: persist it once per corpus and both batch
    (``minhash_dedup_pairs``) and incremental
    (``incremental_minhash_pairs``) dedup run from it without ever
    re-shingling old documents.

    r15: computed ENTIRELY map-side with ZERO exchange — a document's
    shingles all originate from its single input row, so the sorted
    distinct hash array, the string count, and every permutation
    minimum are per-row array reductions; the previous explode +
    groupBy shuffled the whole shingle stream into an
    ObjectHashAggregate (collect_set) to reassemble state that never
    needed to leave its row (the dominant minhash CPU stage at sf0.1,
    and a corpus-sized shuffle at 100 TB).  Row-for-row equal to the
    aggregate form under the one-row-per-id contract, within-doc hash
    collisions included (``__n`` = distinct strings, ``__hs`` =
    distinct hash values — exactly count(*) / collect_set over the
    exploded distinct stream).  ``unique_ids``: None runs the cheap
    sketch guard, True skips it, False falls back to the exploded
    global-distinct aggregate (the only form that merges duplicated
    ids)."""
    if unique_ids is False:
        sh = shingles(df, id_col, text_col, k, False).withColumn(
            "__h", shingle_hash(F.col("shingle")) % MERSENNE_P
        )
        mh_aggs = [
            F.min((F.col("__h") * a + b) % MERSENNE_P).alias(f"mh_{i}")
            for i, (a, b) in enumerate(perm_params(n_perm))
        ]
        return sh.groupBy(id_col).agg(
            *mh_aggs,
            F.sort_array(F.collect_set("__h")).alias("__hs"),
            F.count(F.lit(1)).alias("__n"),
        )
    if unique_ids is None:
        _check_unique_ids(df, id_col, "minhash_docinfo")
    return _doc_hash_sets(df, id_col, text_col, k).select(
        id_col,
        *_mh_cols(n_perm),
        F.col("__hs0").alias("__hs"),
        F.col("__n0").alias("__n"),
    )


def band_keys(
    signatures: DataFrame,
    id_col: str = "doc_id",
    n_perm: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Long-form banding: (id, bsig) where ``bsig`` is the band index
    fused with that band's signature into ONE string key.  A single
    join column (instead of (band, sig)) lets a signature store be
    ``bucketBy(bsig)``-written so incremental candidate joins against
    it need no store-side Exchange."""
    rows_per_band = n_perm // bands
    band_cols = []
    for bi in range(bands):
        cols = [F.col(f"mh_{bi * rows_per_band + r}") for r in range(rows_per_band)]
        band_cols.append(F.concat_ws("_", F.lit(bi), *cols))
    return signatures.select(
        id_col, F.explode(F.array(*band_cols)).alias("bsig")
    )


def _verify_pairs(
    cand: DataFrame,
    docinfo: DataFrame,
    id_col: str,
    threshold: float,
) -> DataFrame:
    """Exact-Jaccard verification of candidate (a, b) pairs against a
    docinfo table: join each side's sorted hash array, intersect
    JVM-side.  shuffle_hash with the slim pair side as build — see
    minhash_dedup_pairs for why (and why docinfo must never
    broadcast)."""
    a_info = docinfo.select(
        F.col(id_col).alias("a"), F.col("__hs").alias("__hs_a"), F.col("__n").alias("n_a")
    )
    b_info = docinfo.select(
        F.col(id_col).alias("b"), F.col("__hs").alias("__hs_b"), F.col("__n").alias("n_b")
    )
    common = F.size(F.array_intersect("__hs_a", "__hs_b")).cast("long")
    jac = F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    return (
        cand.hint("shuffle_hash").join(a_info, "a")
        .hint("shuffle_hash").join(b_info, "b")
        .withColumn("n_common", common)
        .withColumn("jaccard", jac)
        .where(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


def incremental_minhash_pairs(
    store: DataFrame,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 20,
    n_perm: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
) -> tuple[DataFrame, DataFrame]:
    """Incremental near-dup detection: dedup a NEW batch against an
    existing corpus using only its persisted signature store — the
    daily-ingest shape, where re-shingling 100 TB of history per batch
    is not an option.

    ``store`` is a ``minhash_docinfo``-schema table (read back from
    parquet / a ``bucketBy("bsig")``-written catalog table).  Work is
    proportional to |new batch| + the store rows sharing a band key
    with it — never to |corpus|: the store is touched only by (1) the
    band-key equi-join (semi-joined down to matching buckets first)
    and (2) the id-keyed verify join of those survivors.

    Returns ``(pairs, new_info)``: near-dup pairs where at least one
    side is a new document (new↔new and new↔store, normalized a < b),
    and the new batch's docinfo rows — union them onto the store (and
    persist) to absorb the batch::

        pairs, new_info = incremental_minhash_pairs(store, batch)
        store = store.unionByName(new_info)   # next batch's store

    Materialization: ``new_info`` and the candidate set are
    ``localCheckpoint(eager=True)``-ed, not persisted — each has two
    consumers, and checkpoint blocks take no cache-manager entry that
    only ``unpersist`` would release.  They are not freed promptly
    either: the blocks stay until the JVM collects the plan, which a
    Python GC plus ``System.gc()`` does not guarantee (on PySpark 4.1.2
    they were still registered 16 s after both), so per-batch loops (``near_dup_stream``) hold them for a while.
    (Same cluster-mode caveat as ``connected_components``: with flaky
    executors use ``checkpoint()`` + a checkpoint dir.)
    """
    new_info = minhash_docinfo(new_docs, id_col, text_col, k, n_perm).localCheckpoint(
        eager=True
    )
    new_bands = band_keys(new_info, id_col, n_perm, bands)
    # prune the store to band-bucket matches BEFORE pairing: left_semi
    # keyed on the batch's band keys touches only matching store
    # buckets (partition-pruned further if the store is bucketed on
    # bsig); everything else in the corpus is never read past the key
    # column
    store_bands = band_keys(store, id_col, n_perm, bands)
    matched_store = store_bands.join(
        F.broadcast(new_bands.select("bsig").distinct()), "bsig", "left_semi"
    )
    all_bands = matched_store.unionByName(new_bands)
    cand = (
        new_bands.select(F.col(id_col).alias("x"), "bsig")
        .hint("merge")
        .join(all_bands.select(F.col(id_col).alias("y"), "bsig"), "bsig")
        .where(F.col("x") != F.col("y"))
        .select(
            F.least("x", "y").alias("a"), F.greatest("x", "y").alias("b")
        )
        .distinct()
    )
    # verify must NOT shuffle the whole store's fat __hs rows: the
    # candidate endpoints are batch-bounded (≤ 2·|cand|), so broadcast
    # them and semi-join the store docinfo down BEFORE the id-keyed
    # verify joins — the store's hash arrays cross the wire only for
    # docs that actually collided with the batch (measured: full-store
    # verify made a fixed 10k batch scale 2.2× per 10× store; with the
    # cut it's flat)
    cand = cand.localCheckpoint(eager=True)
    cand_ids = (
        cand.select(F.col("a").alias(id_col))
        .unionByName(cand.select(F.col("b").alias(id_col)))
        .distinct()
    )
    docinfo = store.unionByName(new_info).join(
        F.broadcast(cand_ids), id_col, "left_semi"
    )
    pairs = _verify_pairs(cand, docinfo, id_col, threshold)
    return pairs, new_info


def write_band_store(
    docinfo: DataFrame,
    bands_table: str,
    n_buckets: int = 64,
    id_col: str = "doc_id",
    n_perm: int = 16,
    bands: int = 4,
) -> None:
    """Materialize a ``minhash_docinfo`` corpus's band keys as a
    catalog table ``bucketBy(n_buckets, "bsig")`` — the layout that
    makes every subsequent incremental candidate join STORE-SIDE
    EXCHANGE-FREE: EnsureRequirements sees the store already
    hash-partitioned on the single fused band key, so only the (small)
    new batch shuffles.  At 100 TB this is the difference between
    re-shuffling the corpus's band table per daily batch and never
    shuffling it again after ingest.

    Pair with ``bucketed_band_candidates``; keep the docinfo rows
    themselves in a plain parquet store (their verify join is already
    store-exchange-free — the candidate-endpoint semi-join is a
    broadcast filter over the scan)."""
    from genie_spark.io.bucketed import write_bucketed

    write_bucketed(
        band_keys(docinfo, id_col, n_perm, bands),
        bands_table,
        "bsig",
        n_buckets,
    )


def bucketed_band_candidates(
    spark,
    bands_table: str,
    new_bands: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Candidate (a, b) pairs between a new batch's band keys and a
    ``write_band_store`` table: equi-join on the fused band key where
    the ONLY Exchange is the batch side's (store buckets are read
    in-place).  Pinned by tests/test_bucketed.py."""
    store_bands = spark.table(bands_table)
    return (
        new_bands.select(F.col(id_col).alias("x"), "bsig")
        .join(store_bands.select(F.col(id_col).alias("y"), "bsig"), "bsig")
        .where(F.col("x") != F.col("y"))
        .select(F.least("x", "y").alias("a"), F.greatest("x", "y").alias("b"))
        .distinct()
    )


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 20,
    n_perm: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    unique_ids: bool | None = None,
) -> DataFrame:
    """Full MinHash+LSH near-dup pipeline: signatures → banded
    candidates → exact Jaccard verification of candidates only.

    ONE shuffle of the shingle set: a single groupBy(doc) computes the
    n_perm min-aggregates AND the sorted shingle-hash array, so the
    signature and verification paths share the aggregation.  Candidate
    verification is `array_intersect` on the two hash arrays — JVM-side
    set intersection per pair instead of re-exploding candidate × shingle
    rows (the exploded verify join was the variance source at sf0.1 and
    is quadratic in hot-bucket size at corpus scale).  60-bit hashes make
    intersection counts collision-safe in practice.

    ``unique_ids`` passes through to ``shingles``'s one-row-per-id
    contract guard: callers that JUST screened the contract (e.g. the
    corpus-dedup CLI, whose exact-dup stage collapsed duplicate ids)
    pass True to skip the guard's extra corpus pass.
    """
    docinfo = minhash_docinfo(df, id_col, text_col, k, n_perm, unique_ids)
    # docinfo feeds three consumers (banding + both verify sides) that
    # prune different columns, so Catalyst plans three separate
    # scan→shingle→agg subtrees (no ReuseExchange — measured 4 FileScans
    # without this).  Persist materializes the tokenize+shuffle work
    # once; MEMORY_AND_DISK spills rather than recomputes at corpus
    # scale (the standard materialization point — on a real pipeline
    # this is where the signature table would be written out).
    from pyspark import StorageLevel

    docinfo = docinfo.persist(StorageLevel.MEMORY_AND_DISK)
    cand = lsh_candidate_pairs(
        docinfo.select(id_col, *[f"mh_{i}" for i in range(n_perm)]),
        id_col,
        n_perm,
        bands,
    )
    # _verify_pairs uses shuffle_hash hints with the PAIR side as
    # build: docinfo rows carry the per-doc hash array (~KBs/row), so
    # a static-misestimate broadcast of docinfo is a corpus-sized
    # driver collect (observed at 1M docs — see ngram_jaccard_pairs),
    # and a sort-merge join pays to sort those fat rows; hashing the
    # slim pair side and streaming docinfo is ~35% faster at sf0.1.
    # CAVEAT: a shuffled hash join's build phase does NOT spill (hard
    # "Can't acquire … hash relation" failure if a build partition
    # outgrows execution memory) — safe HERE because banding bounds
    # the candidate volume at ~b·n·B rows of two longs, so sizing
    # shuffle partitions to the corpus keeps every build partition
    # small; do not copy this hint to joins whose build side is not
    # volume-bounded by construction (cosine_verify_pairs deliberately
    # uses merge).
    return _release_on_gc(
        _verify_pairs(cand, docinfo, id_col, threshold), docinfo
    )


def connected_components(
    pairs: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    max_iter: int = 30,
) -> DataFrame:
    """Connected components over a near-dup pair graph by iterative
    min-label propagation — the survivor-selection step that turns
    dedup PAIRS into a drop list.

    Each node's label starts as itself; every propagation step each
    node takes the min of its own label and its neighbors' labels,
    then pointer-jumps (``label := label(label)``), until a fixpoint.
    The pointer-jump halves the remaining distance to the component
    minimum every step, so convergence is O(log diameter) steps — a
    chain would need more than 4**max_iter hops to exhaust the cap.
    Each round of the loop FUSES TWO propagation steps into one
    materialized job and carries the round's starting label through
    as a column, so the convergence check is a filter on the
    checkpointed label table instead of a join — labels only ever
    decrease (min-propagation is monotone), so a round with zero net
    change means both of its steps were no-ops, i.e. the fixpoint.
    This halves the per-round fixed cost (one lineage-truncating
    action + one tiny count per TWO steps) that dominates the loop on
    anything but enormous graphs.

    Raises ``RuntimeError`` if the fixpoint is not reached within
    ``max_iter`` rounds (= 2·max_iter propagation steps) rather than
    silently returning a partial clustering (which would report one
    component as several).

    Returns (node, cluster_id) where cluster_id = min node id in the
    component, i.e. the survivor; rows with node != cluster_id are the
    removal list.
    """
    # undirected: both directions, plus self-loops so isolated pair
    # endpoints keep their own label.
    #
    # Both directions come from ONE per-row explode, not a
    # fwd ∪ rev union of two selects: the union references the
    # (possibly very expensive, un-materialized) pair pipeline TWICE
    # inside the materializing job below, so IVF+cosine-verify or
    # band-join candidate generation ran twice before the loop even
    # started (measured at sf0.1: dedup_embedding_drop's edge
    # materialization 67 s under the doubled union vs 16 s for a
    # single evaluation; the explode form evaluates the pipeline
    # exactly once for the identical pre-distinct edge multiset).
    both_dirs = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col(a_col).alias("x"), F.col(b_col).alias("y")),
                F.struct(F.col(b_col).alias("x"), F.col(a_col).alias("y")),
            )
        ).alias("__e")
    ).select(F.col("__e.x").alias("x"), F.col("__e.y").alias("y"))
    # Materialize the edge table ONCE, eagerly, BEFORE the loop.  A
    # lazy ``.cache()`` would leave the first round's job referencing
    # the un-materialized edges subtree three times (two fused
    # propagation steps + the label init), and cache population is
    # per-partition and racy across a job's stages — an expensive
    # upstream pair pipeline (IVF candidates + cosine verify, MinHash
    # band join) was measured computing ~3x inside round 0
    # (dedup_embedding_drop round-0 wall ≈ 3x the one-shot pipeline
    # wall).  The eager localCheckpoint runs that pipeline exactly once
    # and every round then scans edge-sized checkpoint blocks.
    #
    # NO pre-checkpoint repartition by the propagation key: under AQE
    # ``localCheckpoint`` captures UnknownPartitioning (the LogicalRDD
    # partitioning-preservation path is defeated by
    # AdaptiveSparkPlanExec), so a repartition here would NOT let the
    # loop's y-keyed joins skip their exchange — it would only add an
    # edge-sized shuffle to the build (verified in the captured round
    # plan: the edge scan reports UnknownPartitioning(0) and
    # ENSURE_REQUIREMENTS re-exchanges it either way).
    edges = both_dirs.distinct().localCheckpoint(eager=True)
    # Release the (now unreachable) pair-pipeline shuffle state before
    # the loop: ContextCleaner frees it only on driver GC, and the
    # first propagation round otherwise runs against the leftover
    # blocks of a corpus-scale job (measured at sf0.1 on the
    # embedding-drop pipeline: round 1 = 28.6 s without the nudge vs
    # 3.8 s with it; rounds 2+ were always ~2 s).
    from genie_spark.session import gc_nudge

    gc_nudge(pairs.sparkSession)
    labels = edges.select(F.col("x").alias("node")).distinct().withColumn(
        "label", F.col("node")
    )
    converged = False
    for _ in range(max_iter):
        cur = labels.select(
            "node", "label", F.col("label").alias("__label0")
        )
        for _step in range(2):
            # shuffle_hash with the NODE-sized side as build (the
            # pagerank discipline, guide §3.1): sort-merge would sort
            # the edge-sized stream every step just to meet the
            # node-sized label table; the build is n_nodes/P per
            # partition and AQE grows P with edge volume, so it stays
            # bounded at scale.  The edge side IS re-shuffled each
            # step — the localCheckpoint above captures
            # UnknownPartitioning under AQE (see the checkpoint note),
            # so ENSURE_REQUIREMENTS re-exchanges it; the win here is
            # only that the edge stream is never SORTED.  Do not
            # re-add a pre-checkpoint repartition expecting an
            # in-place stream — it was measured as one wasted
            # edge-sized shuffle (the pagerank r15 correction).
            neighbor_min = (
                edges.join(
                    cur.select("node", "label").hint("shuffle_hash"),
                    edges.y == F.col("node"),
                )
                .groupBy("x")
                .agg(F.min("label").alias("nbr_label"))
            )
            cur = (
                cur.join(
                    neighbor_min.hint("shuffle_hash"),
                    cur.node == neighbor_min.x,
                    "left",
                )
                .select(
                    "node",
                    F.least(
                        F.col("label"),
                        F.coalesce(F.col("nbr_label"), F.col("label")),
                    ).alias("label"),
                    "__label0",
                )
            )
            # pointer jump: label := label(label).  Labels are
            # themselves node ids, so chase one level through the
            # label table; this is what turns O(diameter) propagation
            # into O(log diameter).
            ptr = cur.select(
                F.col("node").alias("__pn"), F.col("label").alias("__pl")
            )
            cur = (
                cur.join(ptr.hint("shuffle_hash"), cur.label == ptr.__pn, "left")
                .select(
                    "node",
                    F.least(
                        F.col("label"),
                        F.coalesce(F.col("__pl"), F.col("label")),
                    ).alias("label"),
                    "__label0",
                )
            )
        # truncate lineage every round — without this the lazy plan
        # doubles per iteration (the classic iterative-algorithm trap);
        # on a cluster with flaky executors use checkpoint() with a
        # checkpoint dir instead of localCheckpoint.
        #
        # The convergence check rides the SAME job as the checkpoint
        # (r16, VERDICT r15 item 6): an Observation on the label table
        # counts changed rows during the checkpoint's materialization
        # pass, so the separate per-round `.count()` job (and its
        # scheduling round-trip) is gone — the loop runs exactly ONE
        # job per round.  sum() over an empty table observes null →
        # treated as 0 changed (an empty graph is trivially converged).
        from pyspark.sql import Observation

        obs = Observation()
        cur = cur.observe(
            obs,
            F.sum(
                (F.col("label") != F.col("__label0")).cast("long")
            ).alias("changed"),
        )
        cur = cur.localCheckpoint(eager=True)
        changed = int(obs.get["changed"] or 0)
        labels = cur.select("node", "label")
        if changed == 0:
            converged = True
            break
    # edges' checkpoint blocks are left to the ContextCleaner once the
    # JVM collects the plan — not prompt, not guaranteed; the
    # localCheckpoint discipline of every iterative operator here —
    # pagerank, triangle_count, the quantile sketch
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "(2 min-propagation + pointer-jump steps per round); the pair "
            "graph has a component with diameter on the order of "
            "4**max_iter (convergence is only detected by a final "
            "zero-change round) — raise max_iter"
        )
    return labels.select(F.col("node"), F.col("label").alias("cluster_id"))


def near_dup_drop_list(
    pairs: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    max_iter: int = 30,
) -> DataFrame:
    """Near-dup DROP LIST from a pair graph: connected components, keep
    the min-id document of each cluster, drop the rest — the standard
    survivor policy of large-scale dedup pipelines.  Returns
    (drop_id, cluster_id); anti-join the corpus against drop_id to
    materialize the deduplicated set."""
    comp = connected_components(pairs, a_col, b_col, max_iter)
    return comp.where(F.col("node") != F.col("cluster_id")).select(
        F.col("node").alias("drop_id"), "cluster_id"
    )


def quality_survivor_drop_list(
    pairs: DataFrame,
    scores: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    id_col: str = "doc_id",
    score_col: str = "score",
    max_iter: int = 30,
) -> DataFrame:
    """Quality-aware survivor selection: connected components over the
    near-dup pair graph, but keep the HIGHEST-``score_col`` document of
    each cluster (tie → lowest id) instead of the lowest id — the
    policy real pipelines want (drop the boilerplate copy, keep the
    clean one).

    ``scores`` is (id_col, score_col) with score a deterministic
    integer/exact value (e.g. ``text.quality_score``'s scaled output).
    A component member missing from ``scores`` scores as the minimum
    (never wins a tie against a scored member).

    Spark shape: components (O(log d) pointer-jumping) → one join to
    scores → one ``min_by``-style struct-min aggregate per cluster →
    one semi-join back.  All equi-joins on ids; the scores join is
    corpus-keyed, never broadcast by contract (corpus-sized).

    Returns (drop_id, cluster_id, survivor_id) for every non-survivor.
    """
    comp = connected_components(pairs, a_col, b_col, max_iter)
    # merge hint: scores is corpus-sized and often an aggregate output,
    # whose static size estimate is untrustworthy (see
    # ngram_jaccard_pairs) — never let it broadcast
    scored = comp.join(
        scores.select(
            F.col(id_col).alias("node"), F.col(score_col).alias("__score")
        ).hint("merge"),
        "node",
        "left",
    )
    # struct-min on (-score, node): max score wins, ties -> lowest id;
    # null scores sort LAST under asc_nulls_last inside the struct via
    # coalesce to a sentinel below any real negated score
    sentinel = F.lit(2**62).cast("long")
    best = (
        scored.withColumn(
            "__key", F.struct(F.coalesce(-F.col("__score"), sentinel).alias("k1"), F.col("node").alias("k2"))
        )
        .groupBy("cluster_id")
        .agg(F.min("__key").alias("__best"))
        .select("cluster_id", F.col("__best")["k2"].alias("survivor_id"))
    )
    return (
        comp.join(best, "cluster_id")
        .where(F.col("node") != F.col("survivor_id"))
        .select(F.col("node").alias("drop_id"), "cluster_id", "survivor_id")
    )


SIMHASH_BITS = 32


def simhash(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n_bits: int = SIMHASH_BITS
) -> DataFrame:
    """SimHash fingerprint over whitespace tokens: per bit, sum ±1
    across token hashes; bit set where the sum is positive.  One
    explode + one groupBy with n_bits sum-aggregates (partial agg
    collapses map-side)."""
    from genie_spark.analytics.text import tokens

    tok = df.select(id_col, F.explode(F.array_distinct(tokens(text_col))).alias("tok"))
    h = shingle_hash(F.col("tok"))
    bit_sums = [
        F.sum(
            (F.shiftright(h, b).bitwiseAND(F.lit(1)) * 2 - 1)
        ).alias(f"s{b}")
        for b in range(n_bits)
    ]
    summed = tok.groupBy(id_col).agg(*bit_sums)
    value = None
    for b in range(n_bits):
        term = F.when(F.col(f"s{b}") > 0, F.lit(2 ** b).cast("long")).otherwise(F.lit(0).cast("long"))
        value = term if value is None else (value + term)
    return summed.select(id_col, value.alias("simhash"))


def hamming_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    hash_col: str,
    max_distance: int = 3,
    n_bits: int = SIMHASH_BITS,
) -> DataFrame:
    """Pairs whose ``hash_col`` fingerprints are within
    ``max_distance`` Hamming bits — the EXACT banded search shared by
    SimHash text dedup and image perceptual-hash dedup
    (``multimodal.image_ahash``), no cross join: the fingerprint is
    cut into ``max_distance + 1`` bit-bands; by pigeonhole, any pair
    within ``max_distance`` bit flips agrees exactly on at least one
    band, so an equi-join on (band index, band value) finds every
    qualifying pair — candidate generation is a hash join, the
    XOR+popcount verify runs on candidates only, and duplicates
    (pairs agreeing on several bands) collapse in the distinct.  Same
    results as the O(n²) scan at any corpus size.  Returns
    (a, b, hamming)."""
    n_bands = max_distance + 1
    assert n_bands <= n_bits, "max_distance must be < n_bits"
    # uncovered high bits (n_bits % n_bands) can't break band agreement,
    # and covered diffs ≤ total ≤ max_distance < n_bands, so pigeonhole
    # still guarantees one clean band; narrow bands do concentrate the
    # join key space, so keep n_bits/n_bands ≥ ~8 at corpus scale.
    width = n_bits // n_bands
    bands = df.select(
        id_col,
        hash_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright(F.col(hash_col), i * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("val"),
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("bv"),
    ).select(
        id_col, hash_col,
        F.col("bv.band").alias("band"), F.col("bv.val").alias("val"),
    )
    a = bands.select(
        F.col(id_col).alias("a"), F.col(hash_col).alias("ha"), "band", "val"
    )
    b = bands.select(
        F.col(id_col).alias("b"), F.col(hash_col).alias("hb"), "band", "val"
    )
    dist = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    # merge hint: fingerprint-table self-join, both sides data-sized
    return (
        a.hint("merge").join(b, ["band", "val"])
        .where(F.col("a") < F.col("b"))
        .withColumn("hamming", dist)
        .where(F.col("hamming") <= max_distance)
        .select("a", "b", "hamming")
        .distinct()
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_distance: int = 3,
    n_bits: int = SIMHASH_BITS,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ max_distance —
    ``simhash`` fingerprints through the shared exact banded search
    (``hamming_near_dup_pairs``; semantics and plan shape unchanged
    by the round-8 extraction)."""
    s = simhash(df, id_col, text_col, n_bits)
    return hamming_near_dup_pairs(s, id_col, "simhash", max_distance, n_bits)


def setsim_prefix_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 20,
    threshold_pct: int = 50,
    unique_ids: bool | None = None,
) -> DataFrame:
    """Shingle-set Jaccard ≥ threshold self-join via LOSSLESS prefix
    filtering (the PPJoin family: Chaudhuri et al. 2006, Xiao et al.
    2008) — identical output to ``ngram_jaccard_pairs(max_df=None)``
    with a candidate join that touches only the RARE end of the
    shingle-frequency distribution.

    Order each document's shingles by ascending global document
    frequency (ties by shingle value) and keep only the first
    ``n − ceil(t·n) + 1`` — the prefix.  Two documents can reach
    Jaccard ≥ t only if their prefixes share a shingle (if all shared
    shingles sat past A's prefix, |A∩B| ≤ ceil(t·|A|) − 1 < t·|A| ≤
    t·|A∪B|), so an equi-join on prefix shingles finds every
    qualifying pair with zero loss.  The hot boilerplate shingles
    that force ``ngram_jaccard_pairs``' lossy ``max_df`` cap never
    enter the join: a shingle shared by d documents lands in a
    prefix only when it is among a document's rarest, so the
    quadratic d² fan-out concentrates on d≈1 shingles.  A length
    filter (t·|A| ≤ |B| ≤ |A|/t, integer cross-multiplied) prunes
    candidates before the distinct.

    Verification is exact and candidate-bounded: per-doc sorted
    shingle arrays, ``array_intersect`` size, and an integer
    cross-multiplied threshold (``100·|∩| ≥ t_pct·|∪|`` — no float
    boundary compare; the reported ``jaccard`` double is a single
    IEEE divide, engine-portable).  Reference parity: the reference
    has no set-similarity join; this is the §2.13 extension surface
    (SURVEY.md X41).  Shape at scale: the df-count window, the per-doc
    rank window, one shingle-keyed groupBy with map-side pair
    expansion (r16 — replaces the prefix self-join, so the window
    pipeline runs once), and two docinfo joins on candidates only.

    The shingle stream is carried as 60-bit md5 HASHES end to end:
    per-doc dedup happens map-side on the string array, so the global
    distinct, the df window, the candidate join and the sorted-set
    verify arrays all move 8-byte longs instead of k-char strings.
    With string shingles the 100 k → 1 M boilerplate stress probe ran
    13.3× per 10× rows (≈13 GB of 20-char shingles through four
    exchanges — spill-bound); hashed it is scan-bound.  Jaccard over
    hashes equals Jaccard over shingles through collisions BOTH
    engines see identically (the SQL oracle applies the same
    CAST('0x'||substr(md5(s),1,15)) arithmetic — the bloom-filter
    parity argument).
    """
    assert 0 < threshold_pct <= 100
    from pyspark import StorageLevel
    from pyspark.sql import Window

    # r15: per-document hash-distinct MAP-SIDE (array_distinct over the
    # hashed shingle array) — a document's shingles all originate from
    # its single input row, so this IS exact global (id, hash)
    # distinctness with ZERO exchange, within-doc hash collisions
    # included, PROVIDED one row per id — the `shingles()` contract and
    # guard, mirrored here (the previous global ``.distinct()`` paid a
    # full exchange of the hashed stream to re-derive the same rows).
    if unique_ids is None:
        chk = df.agg(
            F.count(id_col).alias("n"),
            F.approx_count_distinct(id_col, rsd=0.01).alias("nd"),
        ).first()
        if chk is not None and chk["n"] > (chk["nd"] or 0) * 1.05:
            raise ValueError(
                f"setsim_prefix_pairs: ~{chk['n'] - chk['nd']} of "
                f"{chk['n']} rows share a duplicated {id_col!r} — the "
                "map-side per-document dedup is exact only for one row "
                "per id.  Collapse the corpus first (or pass "
                "unique_ids=False for an exact global distinct, "
                "unique_ids=True to promise the contract)"
            )
    idxs = F.sequence(F.lit(1), F.length(F.col(text_col)) - (k - 1))
    hashed = F.array_distinct(
        F.transform(
            idxs,
            lambda i: shingle_hash(F.col(text_col).substr(i, F.lit(k))),
        )
    )
    if unique_ids is False:
        # exact-global-distinct path: duplicated ids merge in the
        # exploded stream, so per-doc facts must come from aggregates
        sh = (
            df.where(F.length(F.col(text_col)) >= k)
            .select(id_col, F.explode(hashed).alias("shingle"))
            .distinct()
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        stream = sh.withColumn(
            "n", F.count(F.lit(1)).over(Window.partitionBy(id_col))
        )
        docsets = sh.groupBy(id_col).agg(
            F.sort_array(F.collect_list("shingle")).alias("sset"),
            F.count(F.lit(1)).alias("n"),
        )
        cached = sh
    else:
        # contract path (one row per id, guarded above): the per-doc
        # sorted set and its size come MAP-SIDE from the single input
        # row (the `_doc_hash_sets` pattern) — the old exploded
        # groupBy re-derived exactly this with a corpus-stream
        # exchange + ObjectHashAggregate, and the per-doc count window
        # is gone too.  docsets is the ONE persisted artifact (the
        # scan+md5 pass happens once; every consumer — the exploded
        # ranking stream and both verify sides — reads the compact
        # array cache).  A/B at sf0.1: wall flat (3.9 vs 4.0 s median
        # interleaved) — this is a 100 TB shape fix, not a bench shave.
        docsets = (
            df.where(F.length(F.col(text_col)) >= k)
            .select(
                id_col,
                F.sort_array(hashed).alias("sset"),
                F.size(hashed).alias("n"),
            )
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        stream = docsets.select(
            id_col, F.explode("sset").alias("shingle"), "n"
        )
        cached = docsets
    # global document frequency via a window over the shingle
    # partitioning — one exchange, not an aggregate + self-join
    ranked = stream.withColumn(
        "df_cnt", F.count(F.lit(1)).over(Window.partitionBy("shingle"))
    ).withColumn(
        "r",
        F.row_number().over(
            Window.partitionBy(id_col).orderBy("df_cnt", "shingle")
        ),
    )
    # prefix_len = n − ceil(t·n) + 1, all-integer arithmetic.
    #
    # The prefix stays LAZY: since r16 the candidate step below is a
    # single-consumer chain (one groupBy over the prefix stream), so
    # the ranked windows execute exactly once with no materialization
    # barrier — the r15 eager persist+count experiment (A/B-measured
    # SLOWER, 7.2 vs 4.9 s) is moot.
    prefix = ranked.where(
        F.col("r")
        <= F.col("n")
        - F.floor((F.col("n") * threshold_pct + F.lit(99)) / 100)
        + 1
    ).select(id_col, "shingle", "n")
    # Candidate pairs via ONE shingle-keyed exchange + map-side pair
    # expansion (r16, VERDICT r15 item 5): the previous prefix
    # SELF-join planned the whole ranked-window pipeline TWICE — once
    # per join side; runtime exchange reuse does not collapse the two
    # differently-projected subtrees, so the df-count and rank windows
    # each executed twice.  Grouping the prefix stream by shingle and
    # expanding the (sorted) member list map-side makes the window
    # pipeline a single-consumer chain — the windows run ONCE by
    # construction.  Interleaved A/B at sf0.1 (4× each): 4.70 s median
    # vs 7.46 s for the self-join, identical 256-row output.
    #
    # Expansion is two chained Generates (posexplode of the member
    # list, then explode of the tail slice), so no single row ever
    # materializes a d² array — memory per generated row is bounded by
    # the group size d.  Skew posture: a prefix shingle shared by d
    # documents concentrates its d²/2 expansion in one task (a single
    # join KEY is equally unsplittable for AQE, which can only clone
    # the other side), but prefix membership selects each document's
    # RAREST shingles by construction, so d concentrates near 1 — and
    # a corpus where some prefix shingle is shared by a large d has an
    # output that is itself Θ(d²) pairs (every such pair passes the
    # length filter when docs are near-identical), so the expansion
    # matches the inherent output volume.  sort_array orders members
    # by id, so x.i < y.i for every tail element — the a < b contract
    # without a filter.
    members = prefix.groupBy("shingle").agg(
        F.sort_array(
            F.collect_list(
                F.struct(F.col(id_col).alias("i"), F.col("n").alias("nn"))
            )
        ).alias("ms")
    ).where(F.size("ms") >= 2)
    lefts = members.select(
        F.posexplode("ms").alias("pos", "x"), F.col("ms")
    )
    pairs = lefts.select(
        F.col("x"),
        F.explode(
            F.slice(
                F.col("ms"),
                F.col("pos") + 2,
                F.greatest(F.size("ms") - F.col("pos") - 1, F.lit(0)),
            )
        ).alias("y"),
    )
    cand = (
        pairs.where(
            (F.col("y.nn") * 100 >= F.col("x.nn") * threshold_pct)
            & (F.col("x.nn") * 100 >= F.col("y.nn") * threshold_pct)
        )
        .select(F.col("x.i").alias("a"), F.col("y.i").alias("b"))
        .distinct()
    )
    da = docsets.select(
        F.col(id_col).alias("a"), F.col("sset").alias("sa"), F.col("n").alias("na")
    )
    db = docsets.select(
        F.col(id_col).alias("b"), F.col("sset").alias("sb"), F.col("n").alias("nb")
    )
    n_common = F.size(F.array_intersect(F.col("sa"), F.col("sb")))
    union = F.col("na") + F.col("nb") - F.col("n_common")
    # shuffle_hash with the SLIM pair side as build (the minhash
    # _verify_pairs discipline): docsets rows carry the per-doc sorted
    # hash array, so hashing the two-long pair side and STREAMING the
    # fat docinfo avoids both a misestimate broadcast and a sort of
    # the array-carrying rows; candidate volume is prefix-join-bounded
    out = (
        cand.hint("shuffle_hash").join(da, "a")
        .hint("shuffle_hash").join(db, "b")
        .withColumn("n_common", n_common)
        .where(F.col("n_common") * 100 >= union * threshold_pct)
        .withColumn("jaccard", F.col("n_common") / union)
        .select("a", "b", "n_common", "jaccard")
    )
    return _release_on_gc(out, cached)


def edit_near_miss_pairs(
    df: DataFrame,
    value_col: str = "value",
    max_dist: int = 1,
) -> DataFrame:
    """LOSSLESS edit-distance ≤ 1 self-join over the DISTINCT values of
    ``value_col`` — the identifier-typo detector (one-character
    substitution / insertion / deletion between two IDs, sample
    barcodes, gene symbols): (a, b, dist) with a < b, dist exact.

    Candidate generation is the FastSS deletion-neighborhood
    (Bocek et al. 2007): N(s) = {s} ∪ {s minus character i}.  If
    ed(s, t) ≤ 1 then N(s) ∩ N(t) ≠ ∅ — align the single edit and
    delete the edited position from whichever side carries it (a
    substitution deletes that position from BOTH; an insert/delete
    makes one string a member of the other's neighborhood; equality
    shares s itself).  The intersection test can over-generate
    (swap pairs like ab/ba share deletion variants at distance 2),
    so every candidate is verified with the exact ``levenshtein``
    — zero loss, zero false positives.

    Spark shape, 100 TB posture: values dedup FIRST (a value repeated
    d times would fan its neighborhood d-fold and every cross pair
    d²-fold; distinct values make the blow-up exactly length+1
    variants per value), variants hash to 60-bit md5 longs so the
    candidate equi-join shuffles 8-byte keys, and the levenshtein
    verify runs on candidate pairs only (JVM built-in, codegen —
    never on the cross product).  The candidate pair ``distinct``
    carries the two 60-bit VALUE hashes, not the strings — a 16-byte
    exchange row regardless of value length; the strings re-join on
    their hash only for the verify (two merge joins against the
    dim-sized distinct-value table).  A 60-bit collision between two
    distinct values would collapse them to one endpoint — the same
    2⁻⁶⁰ exposure every hash-carried stream in this package accepts
    (see ``setsim_prefix_pairs``).  Neighborhood depth is 1 by
    construction; ``max_dist`` must be 1 (depth-k FastSS generates
    C(n,k) variants — the right tool past k=1 is a different index,
    asserted loudly rather than silently quadratic).

    Reference parity: the reference has no fuzzy-match operator; this
    is §2.13 extension surface (SURVEY.md X46) with an exact DuckDB
    oracle (length-banded levenshtein join over the same distinct
    values).
    """
    if max_dist != 1:
        raise ValueError(
            f"edit_near_miss_pairs: max_dist={max_dist} unsupported — the "
            "deletion-neighborhood index is depth-1; for k ≥ 2 use a "
            "dedicated q-gram/trie index (candidate count grows C(n,k))"
        )
    from pyspark import StorageLevel

    vals = (
        df.select(F.col(value_col).alias("val"))
        .where(F.col("val").isNotNull() & (F.length("val") > 0))
        .distinct()
        .withColumn("h", shingle_hash(F.col("val")))
        # three consumers (variant stream + both verify sides) —
        # materialize the distinct once; released when the result is
        # garbage collected
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # N(s) = {s} ∪ single-char deletions, hashed; the lambda reads the
    # bound `val` ATTRIBUTE (not an expression tree — the token_ngrams
    # O(n²) trap does not apply) and substr is O(len) per variant,
    # inherent to building it
    variants = vals.select(
        "h",
        F.explode(
            F.array_distinct(
                F.concat(
                    F.array(F.col("val")),
                    F.transform(
                        F.sequence(F.lit(1), F.length("val")),
                        lambda i: F.concat(
                            F.col("val").substr(F.lit(1), i - 1),
                            F.col("val").substr(i + 1, F.length("val")),
                        ),
                    ),
                )
            )
        ).alias("__v"),
    ).select("h", shingle_hash(F.col("__v")).alias("vh"))
    a = variants.select(F.col("h").alias("ha"), "vh")
    b = variants.select(F.col("h").alias("hb"), "vh")
    # merge hints: both sides are aggregate-derived (see
    # ngram_jaccard_pairs on Catalyst's static size misestimates).
    # hash-ordering (ha < hb) keeps exactly one orientation per
    # unordered pair; the string a < b contract is restored after the
    # value re-join below
    cand = (
        a.hint("merge").join(b, "vh")
        .where(F.col("ha") < F.col("hb"))
        .select("ha", "hb")
        .distinct()
    )
    va = vals.select(F.col("h").alias("ha"), F.col("val").alias("x"))
    vb = vals.select(F.col("h").alias("hb"), F.col("val").alias("y"))
    dist = F.levenshtein(F.col("x"), F.col("y"))
    # shuffle_hash with the SLIM VALUE TABLE as build: on a dense
    # corpus the candidate stream is output-bound (tens of millions of
    # true pairs), and a merge join would SORT it twice; the value
    # table is bounded by the distinct-value count (~30 B/row), so its
    # per-partition hash build is small by construction — the same
    # boundedness argument as _verify_pairs.  Never broadcast (corpus-
    # derived size, see ngram_jaccard_pairs).
    out = (
        cand.join(va.hint("shuffle_hash"), "ha")
        .join(vb.hint("shuffle_hash"), "hb")
        .withColumn("dist", dist.cast("long"))
        .where(F.col("dist") <= max_dist)
        .select(
            F.least("x", "y").alias("a"),
            F.greatest("x", "y").alias("b"),
            "dist",
        )
    )
    return _release_on_gc(out, vals)


def _span_anchor_stream(
    df: DataFrame, id_col: str, text_col: str, k: int
) -> DataFrame:
    """The X47 anchor stream: (id, pos, ah) — 1-based token position
    and 60-bit hash of each ``k``-token gram — shared by the mask,
    pair, removal, and cap-audit forms."""
    from genie_spark.analytics.corpus import token_ngrams
    from genie_spark.analytics.text import tokens

    return (
        df.where(F.size(tokens(text_col)) >= k)
        .select(
            id_col,
            F.posexplode(token_ngrams(text_col, k)).alias("__p", "__g"),
        )
        .select(
            id_col,
            (F.col("__p") + 1).cast("long").alias("pos"),
            shingle_hash(F.col("__g")).alias("ah"),
        )
    )


def _df_cap_audit(
    stream: DataFrame,
    key_col: str,
    id_col: str,
    max_df: int,
    capped_alias: str,
    occurrences_alias: str,
) -> DataFrame:
    """1-row audit of a lossy document-frequency cap: how many
    distinct keys sit above ``max_df`` distinct documents, and how
    many stream occurrences those keys carried — the 'no silent caps'
    companion for every pair-form operator (the X32 audit-count
    idiom: the lossy guard stays, but its size is measured)."""
    per = stream.groupBy(key_col).agg(
        F.count_distinct(F.col(id_col)).alias("__d"),
        F.count(F.lit(1)).alias("__n"),
    )
    return per.where(F.col("__d") > max_df).agg(
        F.count(F.lit(1)).cast("long").alias(capped_alias),
        F.coalesce(F.sum("__n"), F.lit(0)).cast("long").alias(
            occurrences_alias
        ),
    )


def duplicate_span_pair_cap_audit(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    max_df: int = 1_000,
) -> DataFrame:
    """How much ``duplicate_span_pairs``' ``max_df`` guard drops:
    1 row (n_anchors_capped, n_positions_capped).  Runs the cap's own
    aggregate — one groupBy on the anchor stream, no pair join."""
    return _df_cap_audit(
        _span_anchor_stream(df, id_col, text_col, k),
        "ah",
        id_col,
        max_df,
        "n_anchors_capped",
        "n_positions_capped",
    )


def winnow_pair_cap_audit(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    w: int = 4,
    max_df: int = 1_000,
) -> DataFrame:
    """How much ``winnow_dup_pairs``' ``max_df`` guard drops: 1 row
    (n_fingerprints_capped, n_postings_capped) over the same
    doc-distinct fingerprint stream the pair join consumes
    (``_winnow_doc_fps`` — lockstep with ``winnow_dup_pairs``)."""
    fps = _winnow_doc_fps(df, id_col, text_col, k, w)
    return _df_cap_audit(
        fps, "fp", id_col, max_df, "n_fingerprints_capped",
        "n_postings_capped",
    )


def ngram_jaccard_cap_audit(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 20,
    max_df: int = 10_000,
    unique_ids: bool | None = None,
) -> DataFrame:
    """How much ``ngram_jaccard_pairs``' ``max_df`` guard drops: 1 row
    (n_shingles_capped, n_postings_capped)."""
    return _df_cap_audit(
        shingles(df, id_col, text_col, k, unique_ids),
        "shingle",
        id_col,
        max_df,
        "n_shingles_capped",
        "n_postings_capped",
    )


def duplicate_span_mask(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_count: int = 2,
    min_span_len: int | None = None,
) -> DataFrame:
    """Substring-level duplicate-span detection, MASK form: per
    document, the maximal token ranges covered by a ``k``-token
    anchor gram occurring at least ``min_count`` times corpus-wide —
    the spans document-level (X1/X3) and passage-level (X16) dedup
    miss: boilerplate, licenses, quoted chains repeated INSIDE
    otherwise-distinct documents (Lee et al. 2021, arXiv 2107.06499;
    the CCNet/Dolma pipelines run the same shape).  A within-document
    repeat counts too (self-repetition is a duplicate span).

    Returns (id, span_start, span_len, n_anchors), positions 1-based
    in TOKENS: tokens [span_start, span_start+span_len-1] are all
    covered by duplicated anchors; overlapping/adjacent anchor ranges
    are merged (interval islands: a break only where consecutive
    duplicated anchor positions sit more than ``k`` apart, i.e. the
    k-token coverage windows no longer touch).

    ``min_span_len`` (tokens) drops merged islands shorter than the
    threshold — Lee et al. 2021 deduplicate only spans ≥ 50 tokens;
    the default (None) keeps every island, i.e. any duplicated
    ``k``-token anchor masks.  A narrow post-aggregate filter: no
    extra shuffle.

    Spark shape — the 100 TB one, and why there is NO pair blow-up:
    masking needs only each anchor's corpus-wide occurrence COUNT,
    never the d² occurrence pairs, and never a corpus suffix sort
    (Lee et al.'s single-node suffix array does not distribute; the
    anchor formulation is the standard scale-out equivalent).  Three
    linear stages: (1) one groupBy(hash) count — map-side partial
    combine, a boilerplate anchor in a million documents is ONE
    reduced row; (2) one equi-join of the anchor stream against the
    ≥min_count hash set — merge-hinted (aggregate-derived sizes),
    AQE-skew-splittable, 8-byte keys; (3) one document-keyed window
    for the island merge — partitions bounded by document length, so
    no hot-key task.  Anchors travel as 60-bit md5 longs
    (``shingle_hash``); the tokenization is bound once per row by
    ``token_ngrams`` (the interpreted-HOF O(tokens²) trap documented
    there does not apply).
    """
    from pyspark.sql import Window

    anch = _span_anchor_stream(df, id_col, text_col, k)
    hot = (
        anch.groupBy("ah")
        .agg(F.count(F.lit(1)).alias("__c"))
        .where(F.col("__c") >= min_count)
        .select("ah")
    )
    # shuffle_hash, hot as build (BuildRight semi): a merge hint here
    # SORTED the corpus-scale anchor stream before the semi join —
    # measured as a dominant timed stage at sf0.1.  The build side is
    # the deduplicated ≥min_count hash set (8-byte longs, one row per
    # DISTINCT duplicated anchor), its shuffle partitions sized by
    # AQE's advisory target, so each hash build is bounded; a
    # broadcast stays off the table (aggregate-derived misestimates —
    # see ngram_jaccard_pairs).
    dup = anch.join(hot.hint("shuffle_hash"), "ah", "left_semi")
    w = Window.partitionBy(id_col).orderBy("pos")
    brk = F.when(F.col("pos") - F.lag("pos").over(w) <= k, F.lit(0)).otherwise(
        F.lit(1)
    )
    isl = dup.withColumn("__b", brk).withColumn("island", F.sum("__b").over(w))
    out = (
        isl.groupBy(id_col, "island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") - F.min("pos") + k).cast("long").alias("span_len"),
            F.count(F.lit(1)).alias("n_anchors"),
        )
        .select(id_col, "span_start", "span_len", "n_anchors")
    )
    if min_span_len is not None:
        out = out.where(F.col("span_len") >= min_span_len)
    return out


def duplicate_span_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    max_df: int | None = 1_000,
) -> DataFrame:
    """Substring-level duplicate-span detection, PAIR form: maximal
    shared token spans between document pairs — (a, b, a_start,
    b_start, span_len, n_anchors) with a < b, positions 1-based in
    tokens.  Two occurrences of a ``k``-token anchor in different
    documents seed a match; anchor matches on the same alignment
    DIAGONAL (a_pos − b_pos constant) whose coverage windows touch
    (gap ≤ k) merge into one maximal span — the bounded extension
    step of Lee et al. 2021 expressed as interval islands per
    (a, b, diagonal), no per-pair rescan of the texts.

    The anchor self-join fans out d² on an anchor shared by d
    documents, so ``max_df`` (ON by default) drops anchors above that
    document frequency before the join — the standard lossy guard for
    boilerplate (same trade as ``ngram_jaccard_pairs``; spans seeded
    only by ubiquitous anchors are under-reported).  Use the MASK form
    (``duplicate_span_mask``) when the goal is removal: it needs no
    pairs and no cap.  ``max_df=None`` is exact and quadratic — the
    oracle/verification path.
    """
    from pyspark.sql import Window

    anch = _span_anchor_stream(df, id_col, text_col, k)
    if max_df is not None:
        hot = (
            anch.groupBy("ah")
            .agg(F.count_distinct(F.col(id_col)).alias("__d"))
            .where(F.col("__d") > max_df)
            .select("ah")
        )
        anch = anch.hint("merge").join(hot.hint("merge"), "ah", "left_anti")
    a = anch.select(F.col(id_col).alias("a"), F.col("pos").alias("pa"), "ah")
    b = anch.select(F.col(id_col).alias("b"), F.col("pos").alias("pb"), "ah")
    # merge hints: anchor stream on both sides (aggregate/explode-
    # derived size estimates are untrustworthy — see ngram_jaccard_pairs)
    matches = (
        a.hint("merge")
        .join(b, "ah")
        .where(F.col("a") < F.col("b"))
        .select("a", "b", "pa", "pb", (F.col("pa") - F.col("pb")).alias("diag"))
    )
    w = Window.partitionBy("a", "b", "diag").orderBy("pa")
    brk = F.when(F.col("pa") - F.lag("pa").over(w) <= k, F.lit(0)).otherwise(
        F.lit(1)
    )
    isl = matches.withColumn("__b", brk).withColumn(
        "island", F.sum("__b").over(w)
    )
    return (
        isl.groupBy("a", "b", "diag", "island")
        .agg(
            F.min("pa").alias("a_start"),
            F.min("pb").alias("b_start"),
            (F.max("pa") - F.min("pa") + k).cast("long").alias("span_len"),
            F.count(F.lit(1)).alias("n_anchors"),
        )
        .select("a", "b", "a_start", "b_start", "span_len", "n_anchors")
    )


def remove_duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_count: int = 2,
    min_span_len: int | None = None,
) -> DataFrame:
    """Cleaned corpus from substring-span dedup, KEEP-FIRST semantics
    (Lee et al. 2021 §4: deduplicate-text-datasets removes all but one
    occurrence of every duplicated span): tokens covered by a
    duplicated ``k``-token anchor are dropped from every occurrence
    EXCEPT the globally-first one (minimum (id, pos), deterministic),
    so the surviving corpus still contains each span exactly once.

    Returns (id, clean_text, n_tokens, n_tokens_removed) for every
    input document (docs shorter than ``k`` tokens pass through
    unchanged — they carry no anchors).

    ``min_span_len`` (tokens) removes only merged islands at least
    that long — Lee et al. 2021's published operating point is 50;
    the default (None) cuts every duplicated anchor's coverage, a
    more aggressive policy (common ``k``-token idioms get cut
    corpus-wide).  The threshold is applied to the island AFTER the
    keep-first exclusion, mirroring the mask form's filter.

    Spark shape: the ``duplicate_span_mask`` pipeline with one extra
    dim: the first-occurrence struct-min per anchor hash rides the
    SAME groupBy that computes the count (no extra shuffle), and the
    anchor stream anti-filters itself against it during the same
    semi-join stage.  Span removal is a per-row array fold — token
    positions covered by any of the doc's spans are filtered out with
    one ``F.filter`` + ``F.exists`` over the (dim-sized per doc) span
    array; no second pass over the corpus, no UDF.
    """
    from pyspark.sql import Window

    from genie_spark.analytics.text import tokens

    anch = _span_anchor_stream(df, id_col, text_col, k)
    # one aggregate: count AND first occurrence (struct-min) per hash
    stats = anch.groupBy("ah").agg(
        F.count(F.lit(1)).alias("__c"),
        F.min(F.struct(F.col(id_col).alias("i"), F.col("pos").alias("p"))).alias(
            "__first"
        ),
    )
    dup = (
        anch.hint("merge")
        .join(stats.where(F.col("__c") >= min_count).hint("merge"), "ah")
        # keep-first: the globally-first occurrence is NOT masked
        .where(
            ~(
                (F.col(id_col) == F.col("__first.i"))
                & (F.col("pos") == F.col("__first.p"))
            )
        )
        .select(id_col, "pos")
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    brk = F.when(F.col("pos") - F.lag("pos").over(w) <= k, F.lit(0)).otherwise(
        F.lit(1)
    )
    islands = (
        dup.withColumn("__b", brk)
        .withColumn("island", F.sum("__b").over(w))
        .groupBy(id_col, "island")
        .agg(
            F.min("pos").alias("s"),
            (F.max("pos") + (k - 1)).alias("e"),
        )
    )
    if min_span_len is not None:
        islands = islands.where(
            F.col("e") - F.col("s") + 1 >= min_span_len
        )
    spans = islands.groupBy(id_col).agg(
        F.collect_list(F.struct(F.col("s"), F.col("e"))).alias("__spans")
    )
    # per-token coverage test against the doc's (dim-sized) span
    # array; coalesce(false) makes span-less docs keep every token
    # (exists over a null array is null, and F.filter DROPS on null).
    # The filter's input array is evaluated once per row by the HOF
    # itself, and the lambda body reads only bound variables + the
    # __spans attribute — the token_ngrams interpreted-reevaluation
    # trap does not apply.
    toks = tokens(text_col)
    covered = lambda p: F.coalesce(  # noqa: E731
        F.exists(
            F.col("__spans"),
            lambda sp: (sp["s"] <= p) & (p <= sp["e"]),
        ),
        F.lit(False),
    )
    kept = F.filter(
        toks, lambda _tok, i: ~covered(i.cast("long") + 1)
    )
    out = df.join(spans.hint("merge"), id_col, "left")
    return out.select(
        id_col,
        F.array_join(kept, " ").alias("clean_text"),
        F.size(toks).cast("long").alias("n_tokens"),
        (F.size(toks) - F.size(kept)).cast("long").alias("n_tokens_removed"),
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken
    SIGMOD 2003 — the MOSS algorithm): from the token ``k``-gram hash
    sequence, select in every window of ``w`` consecutive hashes the
    minimum (RIGHTMOST minimum on ties — robust winnowing), dedup the
    selections.  Guarantees: any substring match of at least
    ``w + k − 1`` tokens shares a selected fingerprint, and selection
    density is ~2/(w+1) — a bounded-size index per document, the
    plagiarism/boilerplate-detection trade between X47's exhaustive
    anchor stream (every position) and a single whole-doc hash.

    Returns (id, pos, fp): 1-based token position of each selected
    k-gram and its 60-bit hash.

    Spark shape: ENTIRELY map-side — one transform over the window
    starts per row, O(w) array ops per window, then one explode +
    per-row distinct; no shuffle at all until a consumer aggregates.
    The k-gram hash array is bound ONCE as a higher-order-function
    lambda variable (the ``token_ngrams`` interpreted-reevaluation
    trap: closing over the expression tree would recompute the hash
    array per window).
    """
    base = _winnow_sel_array(df, id_col, text_col, k, w)
    return (
        base.select(id_col, F.explode("__sels").alias("__s"))
        .select(id_col, F.col("__s.pos").alias("pos"), F.col("__s.fp").alias("fp"))
    )


def _winnow_doc_fps(
    df: DataFrame, id_col: str, text_col: str, k: int, w: int
) -> DataFrame:
    """Doc-distinct (id, fp) fingerprint stream, reduced MAP-SIDE from
    the per-row selection array — zero exchange; exactly the exploded
    stream's ``select(id, fp).distinct()`` under one-row-per-id."""
    base = _winnow_sel_array(df, id_col, text_col, k, w)
    return base.select(
        id_col,
        F.explode(
            F.array_distinct(F.transform(F.col("__sels"), lambda s: s["fp"]))
        ).alias("fp"),
    )


def _winnow_sel_array(
    df: DataFrame, id_col: str, text_col: str, k: int, w: int
) -> DataFrame:
    """(id, __sels): the deduplicated winnowing selections of each
    document as ONE per-row array<struct<pos,fp>> — the shared
    map-side core of ``winnow_fingerprints`` (which explodes it) and
    ``winnow_dup_pairs`` (which reduces it to the per-doc fp set
    without any exchange)."""
    from genie_spark.analytics.corpus import token_ngrams
    from genie_spark.analytics.text import tokens

    if w < 1:
        raise ValueError("winnow_fingerprints: w must be >= 1")
    grams = token_ngrams(text_col, k)
    hashes = F.transform(grams, lambda g: shingle_hash(g))
    # rightmost minimum of H[i-1 .. i+w-2] (1-based window start i):
    # reverse the slice, find the FIRST position of the min there —
    # rightmost in the original — and dedup selections map-side.
    # The when-guard makes the expression TOTAL (empty selections for
    # docs with fewer than w k-grams): Catalyst may infer a
    # size(__sels) > 0 filter from a downstream explode and reorder
    # it BELOW the token-length filter, evaluating the selection
    # expression on short rows — an unguarded sequence(1, n−w+1)
    # there is descending through 0 and slice() throws.
    sels = F.transform(
        F.array(hashes),
        lambda h: F.when(
            F.size(h) >= w,
            F.transform(
                F.sequence(F.lit(1), F.size(h) - (w - 1)),
                lambda i: F.struct(
                    (
                        i
                        + F.lit(w)
                        - F.array_position(
                            F.reverse(F.slice(h, i, w)),
                            F.array_min(F.slice(h, i, w)),
                        )
                    ).cast("long").alias("pos"),
                    F.array_min(F.slice(h, i, w)).alias("fp"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<pos:bigint,fp:bigint>>")),
    )[0]
    return df.where(F.size(tokens(text_col)) >= k + w - 1).select(
        id_col, F.array_distinct(sels).alias("__sels")
    )


def winnow_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    w: int = 4,
    min_shared: int = 2,
    max_df: int | None = 1_000,
) -> DataFrame:
    """Document pairs sharing ≥ ``min_shared`` winnowing fingerprints —
    the MOSS similarity report: by the winnowing guarantee every
    common substring of ≥ w+k−1 tokens contributes a shared
    fingerprint, at ~2/(w+1) of the index cost of the full anchor
    stream (``duplicate_span_pairs``).  ``max_df`` drops
    corpus-ubiquitous fingerprints before the self-join (the same
    lossy boilerplate guard as every pair-form operator here).
    Returns (a, b, n_shared) with a < b.

    r15: the per-doc fp set is reduced MAP-SIDE from the selection
    array (``_winnow_doc_fps`` — a doc's selections live in its single
    row), so the previous global ``.distinct()`` exchange of the
    fingerprint stream is gone; exact under the one-row-per-id
    contract the pair operators assume throughout."""
    fps = _winnow_doc_fps(df, id_col, text_col, k, w)
    return _winnow_pairs_from_fps(fps, id_col, min_shared, max_df)


def _winnow_pairs_from_fps(
    fps: DataFrame, id_col: str, min_shared: int, max_df: int | None
) -> DataFrame:
    """Pair report over a doc-distinct (id, fp) fingerprint stream —
    shared by the batch form above and the signature-store query side
    (``winnow_pairs_from_store``), so both are pinned to the same
    join/cap semantics."""
    if max_df is not None:
        hot = (
            fps.groupBy("fp")
            .agg(F.count(F.lit(1)).alias("__d"))
            .where(F.col("__d") > max_df)
            .select("fp")
        )
        # shuffle_hash, hot as build: the >max_df hot-fingerprint list
        # is boilerplate-sized (tiny), but aggregate-derived estimates
        # can't be trusted to broadcast it (see ngram_jaccard_pairs);
        # the earlier merge hint instead SORTED the corpus-scale fps
        # stream.  SHJ anti (BuildRight) streams fps unsorted; the
        # build partitions hold 8-byte fp longs sized by AQE's
        # advisory partition target, so no unspillable-build risk.
        fps = fps.join(hot.hint("shuffle_hash"), "fp", "left_anti")
    a = fps.select(F.col(id_col).alias("a"), "fp")
    b = fps.select(F.col(id_col).alias("b"), "fp")
    # shuffle_hash: the fingerprint stream is ~2/(w+1) of the token
    # stream per side (8-byte fps; signature-sized, not pair-sized),
    # so the build partitions are AQE-bounded — the merge hint paid
    # two sorts of that stream (same r15 SMJ → SHJ move as
    # lsh_candidate_pairs; broadcast stays forbidden)
    return (
        a.hint("shuffle_hash").join(b, "fp")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def winnow_fp_docinfo(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    w: int = 4,
) -> DataFrame:
    """Per-document winnowing fingerprint SET as one sorted array row
    — the persisted row format of the winnow signature store (the
    second signature family the incremental store carries, ~2/(w+1)
    the rows of the X47 anchor stream).  Documents shorter than
    ``k + w − 1`` tokens yield no row (they carry no fingerprints);
    the store keeps a manifest-only null row for them, exactly the
    minhash short-doc convention.

    r15: reduced MAP-SIDE from the per-row selection array (a doc's
    selections live in its single row) — the exploded groupBy +
    collect_set paid a full exchange of the fingerprint stream to
    reassemble per-row state; exactly sort_array(collect_set(fp)) /
    count_distinct(fp) under the store's one-row-per-id contract."""
    base = _winnow_sel_array(df, id_col, text_col, k, w)
    # two-step select: __fps is a bound attribute when __nfp reads it,
    # so the sort/distinct work is evaluated once per row
    return base.select(
        id_col,
        F.array_sort(
            F.array_distinct(F.transform(F.col("__sels"), lambda s: s["fp"]))
        ).alias("__fps"),
    ).select(
        id_col, "__fps", F.size("__fps").cast("long").alias("__nfp")
    )
