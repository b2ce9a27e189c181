"""Block-max top-k BM25 over compressed segments (mode-3 graft).

Reference query path (/root/reference/SearchEngine.cpp:112-212): probe the
``ma`` assigned cells' posting lists, reconstruct each posting's residual
from its PQ codes, score, full-sort, truncate. Ours replaces the full scan +
full sort with an **exact MaxScore/block-max scan + bounded candidate set**,
one multi-query kernel (:func:`_maxscore`) behind both query paths:

1. Each query's terms are processed in rounds of descending upper bound
   (ub_t = idf_t * max block impact — the block-max metadata, O3 analog of
   the coarse-cell residual bound).
2. While a query is unrestricted, its terms' whole posting slices are merged
   into one sorted accumulator that every query of the scan task shares
   (vectorized TAAT over (query, doc) keys; the reference's ``entrymap``
   hash-agg, SearchEngine.cpp:404-407, done with np.unique/np.bincount).
3. Once a query's remaining terms' summed upper bound R falls below its
   k-th accumulated score θ, no unseen doc can reach its top-k: the query
   *restricts* to its candidate set (docs with acc + R >= θ), and its
   remaining terms only binary-search those candidates in the doc-sorted
   term slices.
4. Bounded heap equivalent: candidates are pruned each round; the final
   top-k sorts (-score, doc_id) — ties by doc_id ASC, deterministic.

The result is **rank-identical** to the brute-force path (proved in tests):
restriction only ever drops docs whose maximum achievable score is strictly
below the final k-th score.

Scale notes: only blocks of probed terms are read (IN-filter on term +
partition pruning on term_bucket — O1 inverted-file pruning). A scan task
owns a set of queries (indexed path) or of doc shards (batch path); each
block it needs ships to it once, however many of its queries probe the
block's term, and all of its blocks decode in two codec calls. Salted
sub-lists of one term join into one doc-sorted slice (scores additive over
disjoint doc sets).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ivfadc_spark.config import DEFAULT, EngineConfig
from ivfadc_spark.functions.codecs import varint_decode
from ivfadc_spark.operators.postings import SALT_CHUNK_SPAN, _ranges
from ivfadc_spark.operators.query import query_terms
from ivfadc_spark.operators.segments import Segment
from ivfadc_spark.sources.transcripts import _tokens_for_partitions

RESULT_SCHEMA = "query_id long, rank int, doc_id long, score double"

# auto collect_prune threshold: a queries x terms set at or under this many
# rows is collected to the driver for static scan pruning (cheap — it is
# query metadata, never postings); above it the no-collect broadcast
# semi-join path keeps the pipeline fully distributed
_COLLECT_PRUNE_MAX_ROWS = 20_000

# postings per kernel chunk: cache-resident chunks — big chunks saturate
# memory bandwidth when every core runs the kernel (measured 3x wall
# regression at 2M elements x 32 workers)
_CHUNK_POSTINGS = 262_144

# the block columns the scan kernels read
_SCAN_COLS = ["term", "salt", "block_id", "n", "doc_ids", "tfs", "max_tf", "min_dl"]


def _isin(col: str, values):
    """``col IN (values)`` parsed from one SQL string. ``Column.isin`` makes
    one py4j call per value (about 0.5 s for the 1,342 terms of a
    1,000-query batch); the parsed predicate is the same ``In`` and pushes
    down to the parquet scan the same way."""

    def lit(v):
        if isinstance(v, (int, np.integer)):
            return str(int(v))
        return "'" + str(v).replace("\\", "\\\\").replace("'", "\\'") + "'"

    return F.expr(f"`{col}` IN ({','.join(lit(v) for v in values)})")


def _doc_ids(counts: np.ndarray, stream: bytes) -> np.ndarray:
    """Absolute doc ids of concatenated delta-varint blocks of ``counts``
    ids each: one decode (varint streams are self-delimiting), then a
    cumsum reset at block starts."""
    c = np.cumsum(varint_decode(stream, int(counts.sum())).astype(np.int64))
    bstarts = np.cumsum(counts) - counts
    return c - np.repeat(np.where(bstarts > 0, c[bstarts - 1], 0), counts)


def _impact(tf: np.ndarray, dl: np.ndarray, k1: float, b: float, avgdl: float) -> np.ndarray:
    """BM25 term impact: idf-free tf saturation with length normalization."""
    return (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * dl / avgdl))


def _term_postings(blk: pd.DataFrame, dl_of, live, k1: float, b: float, avgdl: float):
    """Decode one scan unit's block rows into doc-sorted term slices.

    The rows are sorted once by (term, salt, block_id) and all of them
    decode in two codec calls. ``dl_of(sorted_rows, ids)`` returns each
    posting's doc length. Postings masked out by ``live`` are dropped;
    every bound, built from the block stats, stays an upper bound. A term
    slice whose salts are not doc-ordered (v2 df-salted salts are hash
    subsets of the docs) is sorted, because restricted queries
    binary-search it.

    Returns (terms, (t_start, t_len, t_maximp, ids, imp)); ``t_maximp`` is
    each term's max block impact (upper bound from the avgdl-free
    (max_tf, min_dl) stats: impact grows with tf and falls with dl)."""
    blk = blk.sort_values(["term", "salt", "block_id"], kind="mergesort")
    counts = blk["n"].to_numpy(np.int64)
    ids = _doc_ids(counts, b"".join(blk["doc_ids"]))
    tf = varint_decode(b"".join(blk["tfs"]), ids.size).astype(np.float64)
    imp = _impact(tf, dl_of(blk, ids), k1, b, avgdl)
    term = blk["term"].to_numpy()
    tb = np.flatnonzero(np.r_[True, term[1:] != term[:-1]])
    blk_imp = _impact(
        blk["max_tf"].to_numpy(np.float64), blk["min_dl"].to_numpy(np.float64), k1, b, avgdl
    )
    t_maximp = np.maximum.reduceat(blk_imp, tb)
    t_ord = np.repeat(np.arange(tb.size), np.add.reduceat(counts, tb))
    if live is not None:
        keep = live[ids]
        if not keep.all():
            ids, imp, t_ord = ids[keep], imp[keep], t_ord[keep]
    if ((ids[1:] <= ids[:-1]) & (t_ord[1:] == t_ord[:-1])).any():
        order = np.lexsort((ids, t_ord))
        ids, imp, t_ord = ids[order], imp[order], t_ord[order]
    t_len = np.bincount(t_ord, minlength=tb.size)
    return term[tb], (np.cumsum(t_len) - t_len, t_len, t_maximp, ids, imp)


def _maxscore(qt: pd.DataFrame, terms: np.ndarray, post, k: int, shift: int):
    """Multi-query MaxScore TAAT of ``qt``'s (query_id, term, idf) rows over
    one scan unit's term slices (from :func:`_term_postings`).

    Returns (query_id, doc_id, score) arrays holding, per query, every
    candidate at or above its k-th score (tie supersets are fine: callers
    rank exactly with :func:`_topk_per_query`).

    Terms are processed in ROUNDS of descending per-query upper bound
    (ub = idf * max block impact). Keys pack (chunk-local query ordinal <<
    ``shift`` | doc), so one sorted accumulator serves every query at once
    and the query part is a shift instead of an int64 division.

    Per round, three query states:
      ACTIVE    — postings union-merged into the accumulator
                  (np.unique + bincount, the flat-TAAT kernel)
      RESTRICTED— the query already holds k candidates whose k-th score θ
                  exceeds the remaining-terms bound R: no unseen doc can
                  reach its top-k, so its remaining (low-ub = LONG posting
                  list) terms never enter a union again — each is scored by
                  binary-searching the query's frozen candidate docs into
                  the term's doc-sorted slice, O(C log P) instead of O(P)
      EXHAUSTED — no terms left; candidates leave the accumulator so later
                  unions stay small
    Restriction is detected WITHOUT sorting: θ > R  <=>  at least k
    accumulated scores strictly exceed R (one bincount); the exact k-th is
    computed only at freeze time per newly-restricted query (np.partition of
    its segment), where candidates that cannot reach θ with bound R are also
    dropped."""
    t_start, t_len, t_maximp, all_ids, all_imp = post
    tix = pd.Index(terms).get_indexer(qt["term"])
    has = tix >= 0
    q, idf, tix = qt["query_id"].to_numpy(np.int64)[has], qt["idf"].to_numpy(np.float64)[has], tix[has]
    if q.size == 0:
        return np.empty(0, np.int64), np.empty(0, np.int64), np.empty(0, np.float64)
    ub = idf * t_maximp[tix]
    # per-query descending-ub order (ties by term: deterministic)
    o = np.lexsort((tix, -ub, q))
    qt_ids, qt_idf, ubs_j = q[o], idf[o], ub[o]
    starts_j, lens_j = t_start[tix[o]], t_len[tix[o]]
    csum = np.cumsum(lens_j)
    # chunk on query boundaries
    qb = np.r_[np.flatnonzero(qt_ids[1:] != qt_ids[:-1]) + 1, qt_ids.size]
    q_first = np.r_[0, qb[:-1]]
    q_sizes = np.diff(np.r_[0, qb])
    # term rank within its query (= round index) and the ub mass of the
    # query's LATER rounds (the MaxScore remaining bound R)
    round_j = np.arange(qt_ids.size) - np.repeat(q_first, q_sizes)
    cs_ub = np.cumsum(ubs_j)
    R_after = np.repeat(cs_ub[qb - 1], q_sizes) - cs_ub
    # cumsum differences are NOT exact suffix sums: cancellation can
    # understate the remaining-terms bound by ~n*eps*|cs|, and the pruning
    # argument needs R to be a CERTIFIED upper bound. For nonnegative ubs the
    # cumsum error at any index is bounded by n*eps*cs[-1]; inflating by
    # twice that keeps R >= true suffix.
    R_after += 2.0 * np.finfo(np.float64).eps * qt_ids.size * float(cs_ub[-1])
    edges, base = [0], 0
    while edges[-1] < qt_ids.size:
        j = int(np.searchsorted(csum[qb - 1], base + _CHUNK_POSTINGS))
        nxt = int(qb[min(j, qb.size - 1)])
        if nxt <= edges[-1]:
            nxt = int(qb[np.searchsorted(qb, edges[-1], side="right")])
        edges.append(nxt)
        base = csum[nxt - 1]
    mask = (1 << shift) - 1
    out_q, out_d, out_s = [], [], []
    for lo, hi in zip(edges[:-1], edges[1:]):
        if int(lens_j[lo:hi].sum()) == 0:
            continue
        p_q = qt_ids[lo:hi]
        p_idf = qt_idf[lo:hi]
        p_start = starts_j[lo:hi]
        p_len = lens_j[lo:hi]
        p_round = round_j[lo:hi]
        p_R = R_after[lo:hi]
        # rows are query-major, so a query's last round is its row count - 1
        uq, q_inv, q_rows = np.unique(p_q, return_inverse=True, return_counts=True)
        q_last = q_rows - 1
        restricted = np.zeros(uq.size, dtype=bool)
        acc_keys = np.empty(0, dtype=np.int64)
        acc_sc = np.empty(0, dtype=np.float64)
        frozen: dict = {}  # qloc -> [docs_sorted, scores]
        done: list = []  # exhausted queries' (qloc, doc, score)
        n_rounds = int(p_round.max()) + 1
        for r in range(n_rounds):
            sel = np.flatnonzero(p_round == r)
            res = sel[restricted[q_inv[sel]]]
            unres = sel[~restricted[q_inv[sel]]]
            for j in res:
                ql = q_inv[j]
                docs_f, sc_f = frozen[ql]
                s0 = p_start[j]
                sl = all_ids[s0 : s0 + p_len[j]]
                pos = np.searchsorted(sl, docs_f)
                ok = pos < sl.size
                hit = np.zeros(docs_f.size, dtype=bool)
                hit[ok] = sl[pos[ok]] == docs_f[ok]
                if hit.any():
                    sc_f[hit] += p_idf[j] * all_imp[s0 + pos[hit]]
                # progressive prune: θ rises as terms land while the
                # remaining bound falls — candidates below θ - R out
                if docs_f.size > 4 * k:
                    kth = np.partition(sc_f, sc_f.size - k)[sc_f.size - k]
                    fk = sc_f + p_R[j] >= kth
                    if not fk.all():
                        frozen[ql] = [docs_f[fk], sc_f[fk]]
            if unres.size:
                ln = p_len[unres]
                idx = _ranges(p_start[unres], ln)
                keys = np.concatenate([acc_keys, (q_inv[unres].repeat(ln) << shift) | all_ids[idx]])
                vals = np.concatenate([acc_sc, p_idf[unres].repeat(ln) * all_imp[idx]])
                acc_keys, inv = np.unique(keys, return_inverse=True)
                acc_sc = np.bincount(inv, weights=vals)
            if acc_keys.size == 0 or r == n_rounds - 1:
                continue
            aql = acc_keys >> shift
            Rnow = np.full(uq.size, np.inf)
            Rnow[q_inv[sel]] = p_R[sel]
            Rnow[q_last <= r] = 0.0
            above = acc_sc > Rnow[aql]
            cnt = np.bincount(aql, weights=above, minlength=uq.size)
            newly = (cnt >= k) & ~restricted & (q_last > r)
            exhaust = (~restricted) & (q_last <= r)
            if newly.any() or exhaust.any():
                is_new = newly[aql]
                is_done = exhaust[aql]
                if exhaust.any():
                    done.append((aql[is_done], acc_keys[is_done] & mask, acc_sc[is_done]))
                if newly.any():
                    mv_keys = acc_keys[is_new]
                    mv_sc = acc_sc[is_new]
                    mv_q = aql[is_new]
                    bnd = np.flatnonzero(np.r_[True, mv_q[1:] != mv_q[:-1]])
                    for s, e in zip(bnd, np.r_[bnd[1:], mv_q.size]):
                        ql = int(mv_q[s])
                        seg_sc = mv_sc[s:e]
                        kth = np.partition(seg_sc, seg_sc.size - k)[seg_sc.size - k]
                        fk = seg_sc + Rnow[ql] >= kth
                        frozen[ql] = [(mv_keys[s:e][fk] & mask).astype(np.int64), seg_sc[fk].copy()]
                    restricted |= newly
                stay = ~(is_new | is_done)
                acc_keys, acc_sc = acc_keys[stay], acc_sc[stay]
        # emit: per-query THRESHOLD selection (>= k-th score); a
        # np.partition per query beats a full lexsort here
        ql_l, d_l, s_l = [acc_keys >> shift], [acc_keys & mask], [acc_sc]
        for ql, (docs_f, sc_f) in frozen.items():
            ql_l.append(np.full(docs_f.size, ql, dtype=np.int64))
            d_l.append(docs_f)
            s_l.append(sc_f)
        for t3 in done:
            ql_l.append(t3[0])
            d_l.append(t3[1])
            s_l.append(t3[2])
        eq = np.concatenate(ql_l)
        ed = np.concatenate(d_l)
        es = np.concatenate(s_l)
        order = np.argsort(eq, kind="stable")
        eq, ed, es = eq[order], ed[order], es[order]
        bnd = np.flatnonzero(np.r_[True, eq[1:] != eq[:-1]])
        keep = np.zeros(eq.size, dtype=bool)
        for s, e in zip(bnd, np.r_[bnd[1:], eq.size]):
            seg_sc = es[s:e]
            if seg_sc.size <= k:
                keep[s:e] = True
            else:
                kth = np.partition(seg_sc, seg_sc.size - k)[seg_sc.size - k]
                keep[s:e] = seg_sc >= kth
        out_q.append(uq[eq[keep]])
        out_d.append(ed[keep])
        out_s.append(es[keep])
    if not out_q:
        return np.empty(0, np.int64), np.empty(0, np.int64), np.empty(0, np.float64)
    return np.concatenate(out_q), np.concatenate(out_d), np.concatenate(out_s)


def _topk_per_query(qids, docs, scores, k):
    """Vectorized per-query top-k over (qid, doc, score) triples, one
    lexsort. Order: qid asc, score desc, doc asc (exact tie-break).
    Returns (row indices, 1-based ranks)."""
    order = np.lexsort((docs, -scores, qids))
    qo = qids[order]
    starts = np.flatnonzero(np.r_[True, qo[1:] != qo[:-1]])
    counts = np.diff(np.r_[starts, qo.size])
    within = np.arange(qo.size) - np.repeat(starts, counts)
    keep = within < k
    return order[keep], (within[keep] + 1).astype(np.int32)


def _token_col(toks: list[int], p):
    """The murmur3 placement token of scan partition ``p`` (a column):
    ``repartition(len(toks), token)`` puts the row on partition ``p``."""
    return F.element_at(F.array(*[F.lit(t) for t in toks]), p + 1)


def _placed(blocks: DataFrame, qt: DataFrame, n: int) -> DataFrame:
    """Block rows and (query_id, term, idf) query rows in ONE exchange: a
    row whose ``tok`` is partition p's placement token lands on p. Query
    rows are the ones with a NULL block_id; block rows carry query_id 0,
    which keeps the column integral on the Python side."""
    rows = blocks.withColumn("query_id", F.lit(0).cast("long")).unionByName(
        qt.select("query_id", "term", "idf", "tok"), allowMissingColumns=True
    )
    return rows.repartition(n, "tok")


def _frames(batches):
    """A scan task's (query rows, block rows), or None when it lacks
    either kind."""
    pdfs = [p for p in batches if len(p)]
    if not pdfs:
        return None
    whole = pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]
    is_q = whole["block_id"].isna().to_numpy()
    if not is_q.any() or is_q.all():
        return None
    return whole[is_q], whole[~is_q]


def _shard_dl(blk: pd.DataFrame, ids: np.ndarray, sent: "pd.DataFrame | None") -> np.ndarray:
    """Doc lengths of a doc shard's postings: the per-posting dl stream of
    format v2 blocks, else a lookup in the shard's SENTINEL rows — each
    chunk's (doc_id -> dl) table, decoded once per shard."""
    stream = b"".join(blk["dls"])
    if stream:
        return varint_decode(stream, ids.size).astype(np.float64)
    if sent is None or not len(sent):
        raise ValueError(
            "bm25_topk_batch: shard has dl-free (v3) blocks but no sentinel "
            "doc-stats rows — segment is corrupt or was filtered without "
            "term IS NULL"
        )
    s_ids = _doc_ids(sent["n"].to_numpy(np.int64), b"".join(sent["doc_ids"]))
    s_dl = varint_decode(b"".join(sent["dls"]), s_ids.size).astype(np.float64)
    lo_id = int(s_ids.min())
    # NaN-initialized so a posting doc id NOT covered by the sentinel table
    # (corrupt / partially-filtered segment) raises instead of gathering
    # uninitialized garbage; ids below lo_id would index negatively —
    # checked explicitly.
    table = np.full(int(s_ids.max()) - lo_id + 1, np.nan, dtype=np.float64)
    table[s_ids - lo_id] = s_dl
    gidx = ids - lo_id
    if gidx.size and (int(gidx.min()) < 0 or int(gidx.max()) >= table.size):
        raise ValueError(
            "bm25_topk_batch: posting doc_id outside the shard's sentinel "
            "doc-stats range — segment is corrupt"
        )
    dl = table[gidx]
    if np.isnan(dl).any():
        raise ValueError(
            "bm25_topk_batch: posting doc_id missing from the sentinel "
            "doc-stats table — segment is corrupt"
        )
    return dl


def bm25_topk_batch(
    queries: DataFrame,
    segment: Segment,
    k: int | None = None,
    cfg: EngineConfig = DEFAULT,
    doc_mask: "np.ndarray | None" = None,
    use_dict_cache: bool = False,
) -> DataFrame:
    """Doc-sharded batch top-k BM25.

    The segment's uniform doc shards (cfg.doc_shards) are each a complete
    sub-index over their doc subset, so

      1. each shard's (query-term-filtered) blocks ship ONCE to one task,
         and every query row ships once to every task — the reference's
         process-level scatter over segment shards
         (vk_word_complete/startup.py:31-42);
      2. the task decodes each shard once, then answers EVERY query against
         it with the shared MaxScore kernel and emits a local candidate set
         (scores are doc-local, global stats come with the query rows);
      3. global top-k = per-query merge of the shards' local sets.

    Rank-identical to :func:`bm25_topk_indexed` and the brute-force oracle.
    Its dl travels shard-aligned in the sentinel rows, so no doc_space-sized
    dl broadcast is needed.

    ``doc_mask``: optional doc_space-sized boolean keep-mask (attribute
    scoping, boolean NOT, ...). Tombstones recorded by ``delete_docs`` are
    ALWAYS applied on top (Lucene semantics: deleted docs never surface;
    corpus stats stay the segment's until compaction).
    """
    from ivfadc_spark.operators.deletes import live_broadcast

    k = k or cfg.top_k
    k1, b = float(cfg.k1), float(cfg.b)
    avgdl = float(segment.meta["avgdl"])
    spark = segment.spark
    bmask = live_broadcast(segment, doc_mask)

    # query prep: tokenize distributed (JVM explode) and collect the
    # QUERY-sized term frame (the broker role: n_queries x terms rows,
    # bounded by the batch — documented broker bound). idf then comes from
    # a TERM-PRUNED dictionary scan: ``term IN (...)`` pushes down to the
    # dict parquet (row-group stats / dictionary pages), so only matching
    # slices are read and the driver never materializes the vocabulary —
    # at 100x (hundreds of millions of terms) the old full-dictionary
    # ``dict_pdf`` merge was the first OOM. ``use_dict_cache=True`` keeps
    # the resident merge as an explicit opt-in for small segments where
    # the cached frame amortizes across many batches.
    qt_pdf = query_terms(queries).toPandas()
    if qt_pdf.empty:
        return spark.createDataFrame([], RESULT_SCHEMA)
    if use_dict_cache:
        qt_pdf = qt_pdf.merge(segment.dict_pdf[["term", "idf"]], on="term")  # drops OOV
    else:
        idf_pdf = (
            segment.dictionary.select("term", "idf")
            .filter(_isin("term", sorted(set(qt_pdf["term"]))))
            .toPandas()
        )
        qt_pdf = qt_pdf.merge(idf_pdf, on="term")  # drops OOV
    if qt_pdf.empty:
        return spark.createDataFrame([], RESULT_SCHEMA)
    terms = sorted(set(qt_pdf["term"]))

    # sentinel doc-stats rows (term NULL, block_id -1) ride along: they carry
    # each chunk's (doc_id -> dl) table, which is where the scan takes dl
    # from since format v3 dropped the per-posting dl stream. dl thus ships
    # ONCE PER SHARD (bytes ~ docs/shard), not once per posting.
    blocks = segment.raw_blocks.filter(
        # sentinels (block_id -1) ride along; positional twin rows (<= -10)
        # must NOT enter the scoring scan
        (F.col("block_id") >= -1)
        & (F.col("term").isNull() | _isin("term", terms))
    ).select(*_SCAN_COLS, "dls")
    # the shard contract comes STRICTLY from the segment's own build meta:
    # a df-salted segment (n_shards <= 0) splits one doc's postings across
    # DIFFERENT salts per term, which would silently double-count scores here
    meta = segment.meta
    if "n_shards" in meta:
        n_shards = int(meta["n_shards"] or 0)
        chunk_salted = True  # salt = pid * SALT_CHUNK_SPAN + chunk
    else:
        # pre-n_shards doc-sharded segment (format v1): salt IS the shard
        # (0..doc_shards-1) — salt // SALT_CHUNK_SPAN would collapse every
        # shard into one straggler task
        n_shards = int(meta.get("config", {}).get("doc_shards", 0) or 0)
        chunk_salted = False
    if n_shards <= 0:
        raise ValueError(
            "bm25_topk_batch requires a segment built with uniform doc "
            "sharding (cfg.doc_shards > 0); this segment was df-salted — "
            "use bm25_topk_indexed instead"
        )
    # scan granularity = the PARTITION-level doc shard (salt // span): the
    # fine chunk salts only bounded the encoder's working set — grouping by
    # them would pay per-group fixed costs hundreds of times per task.
    # Shard s is placed EXACTLY on partition s mod n_part: shard ids are
    # dense (merges and federation rebase each source's salts), so tasks
    # get even shares, where hash partitioning collides shard ids into
    # uneven tasks (~1/e of partitions empty, stragglers with 2-3 shards).
    par = spark.sparkContext.defaultParallelism
    n_part = min(n_shards, par * 2)
    toks = _tokens_for_partitions(spark, n_part)
    shard_col = (F.col("salt") / F.lit(SALT_CHUNK_SPAN)).cast("int") if chunk_salted else F.col("salt")
    blocks = blocks.withColumn("shard", shard_col).withColumn(
        "tok", _token_col(toks, F.pmod(F.col("shard"), F.lit(n_part)))
    )
    # every task scores every query against its shards: the query rows ride
    # in the same exchange, one copy per task
    qt_rows = pd.concat(
        [qt_pdf[["query_id", "term", "idf"]].assign(tok=t) for t in toks], ignore_index=True
    )
    rows = _placed(
        blocks, spark.createDataFrame(qt_rows, "query_id long, term string, idf double, tok int"), n_part
    )

    # key stride = the TOTAL doc id space (zero-token docs included: ids are
    # dense over all transcript rows, so max doc_id can exceed the BM25
    # n_docs — using n_docs here would alias adjacent queries' keys)
    shift = int(segment.doc_space).bit_length()

    def scan_shards(batches):
        got = _frames(batches)
        if got is None:
            return
        qt, blk = got
        lv = bmask.value if bmask is not None else None
        is_sent = blk["block_id"].to_numpy() == -1
        sent_by_shard = dict(iter(blk[is_sent].groupby("shard", sort=False)))
        for shard, sg in blk[~is_sent].groupby("shard", sort=False):
            sent = sent_by_shard.get(shard)
            terms_s, post = _term_postings(
                sg, lambda blk_s, ids: _shard_dl(blk_s, ids, sent), lv, k1, b, avgdl
            )
            q, d, s = _maxscore(qt, terms_s, post, k, shift)
            if q.size:
                yield pd.DataFrame({"query_id": q, "doc_id": d, "score": s})

    local = rows.mapInPandas(scan_shards, "query_id long, doc_id long, score double")

    # final merge: per query pick k best of the shards' local candidates —
    # vectorized (one lexsort + segment-rank per task, no per-group loop)
    def merge_topk(batches):
        pdfs = [p for p in batches if len(p)]
        if not pdfs:
            return
        whole = pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]
        qids = whole["query_id"].to_numpy(np.int64)
        docs = whole["doc_id"].to_numpy(np.int64)
        scores = whole["score"].to_numpy(np.float64)
        keep, rank = _topk_per_query(qids, docs, scores, k)
        yield pd.DataFrame(
            {"query_id": qids[keep], "rank": rank, "doc_id": docs[keep], "score": scores[keep]}
        )

    return local.repartition(par, "query_id").mapInPandas(merge_topk, RESULT_SCHEMA)


def _bucket_col(n_buckets: int):
    """The blocks' ``term_bucket`` partition of each term."""
    return F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int")


def bm25_topk_indexed(
    queries: DataFrame,
    segment: Segment,
    k: int | None = None,
    cfg: EngineConfig = DEFAULT,
    doc_mask: "np.ndarray | None" = None,
) -> DataFrame:
    """Top-k BM25 from a compressed segment, rank-identical to the
    DataFrame path. queries: (query_id, text).

    The path follows the query-terms batch size. A batch of at most
    ``_COLLECT_PRUNE_MAX_ROWS`` (query, term) rows is collected; one
    term-pruned ``term IN (...)`` dictionary read resolves its idf and
    term buckets, and the blocks scan is pruned statically. A larger batch
    never reaches the driver: it joins the broadcast dictionary and prunes
    the scan with a broadcast join.

    ``doc_mask``: optional doc_space-sized boolean keep-mask (attribute
    scoping, boolean NOT, ...). Tombstones recorded by ``delete_docs`` are
    ALWAYS applied on top (Lucene semantics: deleted docs never surface;
    corpus stats stay the segment's until compaction)."""
    from ivfadc_spark.operators.deletes import live_broadcast

    k = k or cfg.top_k
    k1, b = float(cfg.k1), float(cfg.b)
    avgdl = float(segment.meta["avgdl"])
    bmask = live_broadcast(segment, doc_mask)
    n_buckets = int(segment.meta["config"].get("term_buckets", cfg.term_buckets))

    qterms = query_terms(queries)
    probe = qterms.limit(_COLLECT_PRUNE_MAX_ROWS + 1).collect()
    if len(probe) > _COLLECT_PRUNE_MAX_ROWS:
        qt = qterms.join(
            F.broadcast(segment.dictionary.select("term", "idf")), "term"  # drops OOV
        ).withColumn("term_bucket", _bucket_col(n_buckets))
        return _scan_broadcast(segment, qt, k, k1, b, avgdl, bmask)
    qt_pdf = pd.DataFrame(probe, columns=qterms.columns)
    if not qt_pdf.empty:
        idf_pdf = (
            segment.dictionary.filter(_isin("term", sorted(set(qt_pdf["term"]))))
            .select("term", "idf", _bucket_col(n_buckets).alias("term_bucket"))
            .toPandas()
        )
        qt_pdf = qt_pdf.merge(idf_pdf, on="term")  # drops OOV
    return _scan_collected(segment, qt_pdf, k, k1, b, avgdl, bmask)


def _topk_scan_from_qt(
    segment: Segment,
    qt: DataFrame,
    k: int,
    k1: float,
    b: float,
    avgdl: float,
    bmask,
) -> DataFrame:
    """Shared pruned-scan core of the expansion top-k paths: takes a
    resolved (query_id, term, idf, term_bucket) frame (however the caller
    produced it — prefix expansion, fuzzy, ...) and runs the block-pruned
    MaxScore scan, collecting the frame first when it is small."""
    probe = qt.limit(_COLLECT_PRUNE_MAX_ROWS + 1).collect()
    if len(probe) > _COLLECT_PRUNE_MAX_ROWS:
        return _scan_broadcast(segment, qt, k, k1, b, avgdl, bmask)
    qt_pdf = pd.DataFrame(probe, columns=qt.columns)
    return _scan_collected(segment, qt_pdf, k, k1, b, avgdl, bmask)


def _collected_input(segment: Segment, qt_pdf: pd.DataFrame) -> DataFrame:
    """The scan input of a collected (query_id, term, idf, term_bucket)
    frame: the queries are dealt round-robin onto the scan partitions, and
    the blocks scan, pruned STATICALLY (term_bucket partition prune + term
    row-group min/max prune — O1 inverted-file pruning), joins the distinct
    (term, partition) pairs. A block thus ships at most once per partition,
    however many queries probe its term."""
    spark = segment.spark
    uq, q_ord = np.unique(qt_pdf["query_id"].to_numpy(np.int64), return_inverse=True)
    # no more partitions than queries: an empty Python task still costs a
    # worker round trip
    n = min(spark.sparkContext.defaultParallelism, uq.size)
    toks = np.asarray(_tokens_for_partitions(spark, n), dtype=np.int32)
    qt = qt_pdf[["query_id", "term", "idf"]].assign(tok=toks[q_ord % n])
    # from pandas through Arrow, a frame under
    # spark.sql.execution.arrow.localRelationThreshold is a local relation:
    # its broadcast is one JVM-only job, where a list of Rows would first be
    # parallelized and unpickled by Python workers
    tp = spark.createDataFrame(qt[["term", "tok"]].drop_duplicates(), "term string, tok int")
    blocks = (
        segment.blocks.filter(
            _isin("term_bucket", sorted({int(x) for x in qt_pdf["term_bucket"]}))
            & _isin("term", sorted(set(qt_pdf["term"])))
        )
        .select(*_SCAN_COLS)
        .join(F.broadcast(tp), "term")
    )
    qt_df = spark.createDataFrame(qt, "query_id long, term string, idf double, tok int")
    return _placed(blocks, qt_df, n)


def _scan_collected(
    segment: Segment,
    qt_pdf: pd.DataFrame,
    k: int,
    k1: float,
    b: float,
    avgdl: float,
    bmask,
) -> DataFrame:
    """Small-batch / low-latency path over a collected query-term frame."""
    if qt_pdf.empty:
        return segment.spark.createDataFrame([], RESULT_SCHEMA)
    return _scan(segment, _collected_input(segment, qt_pdf), k, k1, b, avgdl, bmask)


def _scan_broadcast(
    segment: Segment,
    qt: DataFrame,
    k: int,
    k1: float,
    b: float,
    avgdl: float,
    bmask,
) -> DataFrame:
    """Large-batch / throughput path: no driver round-trip — each query's
    scan partition is pmod(hash(query_id), par), computed JVM-side, and the
    distinct (term, partition) pairs prune and place the blocks through a
    broadcast join, so a Python collect of queries x terms never serializes
    the pipeline."""
    par = segment.spark.sparkContext.defaultParallelism
    toks = _tokens_for_partitions(segment.spark, par)
    qt = qt.withColumn("tok", _token_col(toks, F.pmod(F.hash("query_id"), F.lit(par))))
    blocks = segment.blocks.select(*_SCAN_COLS).join(
        F.broadcast(qt.select("term", "tok").distinct()), "term"
    )
    return _scan(segment, _placed(blocks, qt, par), k, k1, b, avgdl, bmask)


def _scan(
    segment: Segment,
    rows: DataFrame,
    k: int,
    k1: float,
    b: float,
    avgdl: float,
    bmask,
) -> DataFrame:
    """Exact per-query top-k over placed scan rows (:func:`_placed`).

    Each task holds whole queries and one copy of every block they probe.
    It decodes all of its blocks at once, gathers dl from the resident
    per-doc lookup (format v3 blocks carry no dl stream), applies the live
    mask, scores every query with the shared MaxScore kernel and ranks them
    all with one lexsort: one Python invocation per partition, not per
    query or per (query, block)."""
    bdl = segment.dl_broadcast
    shift = int(segment.doc_space).bit_length()

    def scan(batches):
        got = _frames(batches)
        if got is None:
            return
        qt, blk = got
        dl_arr = bdl.value
        lv = bmask.value if bmask is not None else None
        terms, post = _term_postings(blk, lambda _b, ids: dl_arr[ids], lv, k1, b, avgdl)
        q, d, s = _maxscore(qt, terms, post, k, shift)
        keep, rank = _topk_per_query(q, d, s, k)
        if keep.size:
            yield pd.DataFrame({"query_id": q[keep], "rank": rank, "doc_id": d[keep], "score": s[keep]})

    return rows.mapInPandas(scan, RESULT_SCHEMA)


def prefix_topk(
    queries: DataFrame,
    segment: Segment,
    k: int | None = None,
    cfg: EngineConfig = DEFAULT,
    doc_mask: "np.ndarray | None" = None,
) -> DataFrame:
    """Top-k BM25 with Lucene-style trailing-wildcard terms (``quer*``).

    Query text is whitespace-split; a token ending in ``*`` is a PREFIX and
    expands against the term dictionary (Lucene's scoring multi-term
    rewrite: every expanded term scores with its OWN idf, deduped per query
    so a term never counts twice even when several prefixes or an exact
    token also match it). Plain tokens behave exactly as in
    :func:`bm25_topk_indexed`.

    Scale shape: expansion never touches postings — the prefix set is query
    metadata (collected driver-side, the documented broker pattern) and
    becomes ONE filtered pass over the dictionary; ``startswith`` pushes to
    the parquet scan as StringStartsWith, so a term-sorted dictionary gets
    row-group range pruning for free. The expanded (query_id, term) set
    then drives the same block-pruned MaxScore scan as exact search.
    """
    from ivfadc_spark.operators.deletes import live_broadcast

    k = k or cfg.top_k
    k1, b = float(cfg.k1), float(cfg.b)
    avgdl = float(segment.meta["avgdl"])
    bmask = live_broadcast(segment, doc_mask)
    n_buckets = int(segment.meta["config"].get("term_buckets", cfg.term_buckets))
    spark = segment.spark

    toks = (
        queries.select(
            "query_id",
            F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("tok"),
        )
        # a token is a prefix when a star ends its alphanumeric part —
        # trailing punctuation after the star ("quer*," at a clause end)
        # must not demote it to an exact term
        .withColumn("is_prefix", F.col("tok").rlike(r"\*[^a-z0-9]*$"))
        .withColumn("stem", F.regexp_replace("tok", "[^a-z0-9]", ""))
        .filter(F.length("stem") > 0)
        .select("query_id", "stem", "is_prefix")
        .distinct()
    )
    d = segment.dictionary.select("term", "idf")
    exact = (
        toks.filter(~F.col("is_prefix"))
        .select("query_id", F.col("stem").alias("term"))
        .join(F.broadcast(d), "term")
        .select("query_id", "term", "idf")
    )
    prefixes = [
        r["stem"]
        for r in toks.filter("is_prefix").select("stem").distinct().collect()
    ]
    if prefixes:
        pred = None
        for p in prefixes:
            c = F.col("term").startswith(p)
            pred = c if pred is None else (pred | c)
        pref_df = toks.filter("is_prefix").select(
            "query_id", F.col("stem").alias("p")
        )
        expanded = (
            d.filter(pred)  # one dictionary pass, predicate pushed to scan
            .join(F.broadcast(pref_df), F.col("term").startswith(F.col("p")))
            .select("query_id", "term", "idf")
        )
        qt = exact.unionByName(expanded).distinct()
    else:
        qt = exact.distinct()
    qt = qt.withColumn("term_bucket", _bucket_col(n_buckets))
    return _topk_scan_from_qt(segment, qt, k, k1, b, avgdl, bmask)


def fuzzy_topk(
    queries: DataFrame,
    segment: Segment,
    k: int | None = None,
    cfg: EngineConfig = DEFAULT,
    doc_mask: "np.ndarray | None" = None,
) -> DataFrame:
    """Top-k BM25 with Lucene fuzzy terms (``spakr~`` or ``spakr~2``).

    Query text is whitespace-split; a token ending in ``~`` (optionally
    ``~N``, N capped at 2, default 1) is FUZZY and expands to every
    dictionary term within plain Levenshtein distance N — Lucene's scoring
    multi-term rewrite, same as :func:`prefix_topk`: each expanded term
    scores with its OWN idf, deduped per query (the stem itself matches at
    distance 0). Plain tokens behave exactly as in ``bm25_topk_indexed``.

    Scale shape: fully declarative — the tiny fuzzy stem set broadcasts
    against ONE dictionary pass (a broadcast nested-loop join with a
    length-band prune ahead of the levenshtein evaluation; the postings
    are never touched by expansion). Lucene walks its term FST with a
    Levenshtein automaton to the same effect — here the O(vocabulary)
    columnar scan is the Spark-native equivalent, and the vocabulary is
    corpus-bounded, not corpus-sized. The expanded (query_id, term) set
    then drives the shared block-pruned MaxScore scan.
    """
    from ivfadc_spark.operators.deletes import live_broadcast

    k = k or cfg.top_k
    k1, b = float(cfg.k1), float(cfg.b)
    avgdl = float(segment.meta["avgdl"])
    bmask = live_broadcast(segment, doc_mask)
    n_buckets = int(segment.meta["config"].get("term_buckets", cfg.term_buckets))

    toks = (
        queries.select(
            "query_id",
            F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("tok"),
        )
        # the ~[N] marker ends the token (trailing punctuation tolerated,
        # mirroring prefix_topk); strip it BEFORE the alnum squeeze so
        # "term~1" never collapses to the unrelated stem "term1"
        .withColumn("is_fuzzy", F.col("tok").rlike(r"~[0-9]?[^a-z0-9]*$"))
        .withColumn(
            "dist",
            F.least(
                F.coalesce(
                    F.nullif(
                        F.regexp_extract("tok", r"~([0-9])[^a-z0-9]*$", 1), F.lit("")
                    ).cast("int"),
                    F.lit(1),
                ),
                F.lit(2),
            ),
        )
        .withColumn(
            "stem",
            F.regexp_replace(
                F.regexp_replace("tok", r"~[0-9]?[^a-z0-9]*$", ""), "[^a-z0-9]", ""
            ),
        )
        .filter(F.length("stem") > 0)
        .select("query_id", "stem", "is_fuzzy", "dist")
        .distinct()
    )
    d = segment.dictionary.select("term", "idf")
    exact = (
        toks.filter(~F.col("is_fuzzy"))
        .select("query_id", F.col("stem").alias("term"))
        .join(F.broadcast(d), "term")
        .select("query_id", "term", "idf")
    )
    fz = toks.filter("is_fuzzy").select("query_id", F.col("stem").alias("s"), "dist")
    expanded = d.join(
        F.broadcast(fz),
        (F.abs(F.length("term") - F.length("s")) <= F.col("dist"))
        & (F.levenshtein(F.col("term"), F.col("s")) <= F.col("dist")),
    ).select("query_id", "term", "idf")
    qt = exact.unionByName(expanded).distinct().withColumn("term_bucket", _bucket_col(n_buckets))
    return _topk_scan_from_qt(segment, qt, k, k1, b, avgdl, bmask)


def mlt_topk(
    seed_ids,
    segment: Segment,
    docs: DataFrame,
    k: int | None = None,
    max_terms: int = 10,
    cfg: EngineConfig = DEFAULT,
    doc_mask: "np.ndarray | None" = None,
) -> DataFrame:
    """More-Like-This: for each seed doc, the top-k most similar OTHER docs
    — Lucene's MoreLikeThis rewrite: the seed's terms are ranked by
    tf x idf (ties by term asc), the best ``max_terms`` become an OR query
    that scores through the normal BM25 kernel, and the seed itself is
    excluded from its results. query_id in the output IS the seed doc_id.

    Scale shape: seed term vectors come from the SOURCE docs table, not
    the index — postings are term-major, so reading a doc's vector from
    blocks would scan every term, while ``docs.filter(doc_id IN seeds)``
    is a predicate-pushdown point lookup (Lucene reads its stored
    per-doc term vectors to the same end). Seed stats are seed-sized,
    idf comes from the broadcast dictionary, and the expanded
    (query_id, term) set drives the shared block-pruned MaxScore scan.
    """
    from pyspark.sql.window import Window

    from ivfadc_spark.functions.tokenize import tokens_col
    from ivfadc_spark.operators.deletes import live_broadcast

    k = k or cfg.top_k
    k1, b = float(cfg.k1), float(cfg.b)
    avgdl = float(segment.meta["avgdl"])
    bmask = live_broadcast(segment, doc_mask)
    n_buckets = int(segment.meta["config"].get("term_buckets", cfg.term_buckets))

    seeds = docs.filter(
        F.col("doc_id").isin([int(x) for x in seed_ids])
    ).select(F.col("doc_id").alias("query_id"), "text")
    stf = (
        seeds.select("query_id", F.explode(tokens_col("text")).alias("term"))
        .groupBy("query_id", "term")
        .agg(F.count("*").cast("double").alias("tf"))
    )
    w = stf.join(
        F.broadcast(segment.dictionary.select("term", "idf")), "term"
    ).withColumn("weight", F.col("tf") * F.col("idf"))
    sel = Window.partitionBy("query_id").orderBy(F.desc("weight"), F.asc("term"))
    qt = (
        w.withColumn("rn", F.row_number().over(sel))
        .filter(F.col("rn") <= int(max_terms))
        .select("query_id", "term", "idf")
        .withColumn("term_bucket", _bucket_col(n_buckets))
    )
    res = _topk_scan_from_qt(segment, qt, k + 1, k1, b, avgdl, bmask)
    rerank = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        res.filter(F.col("doc_id") != F.col("query_id"))  # k+1 absorbs the self-hit
        .withColumn("rank", F.row_number().over(rerank).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score")
    )


def suggest_terms(
    queries: DataFrame,
    segment: Segment,
    max_dist: int = 2,
    n_suggest: int = 3,
) -> DataFrame:
    """Did-you-mean: for each OUT-OF-VOCABULARY query token, the top
    spelling suggestions from the term dictionary — ranked by edit
    distance asc, then document frequency desc, then term asc (the Lucene
    DirectSpellChecker default comparator). In-vocabulary tokens produce
    no rows (nothing to correct); tokens with no dictionary term within
    ``max_dist`` produce none either.

    Output: (query_id, token, suggestion, dist, df).

    Scale shape: same as :func:`fuzzy_topk`'s expansion — the OOV token
    set is tiny and broadcasts against ONE dictionary pass (length-band
    prune ahead of levenshtein); the ranking window partitions by
    (query, token) over at most vocabulary-sized candidates. Postings are
    never touched.
    """
    from pyspark.sql.window import Window

    from ivfadc_spark.functions.tokenize import tokens_col

    toks = (
        queries.select(
            "query_id", F.explode(F.array_distinct(tokens_col("text"))).alias("token")
        )
        .distinct()
        .join(
            F.broadcast(
                segment.dictionary.select(F.col("term").alias("token"))
            ),
            "token",
            "left_anti",  # only OOV tokens need correcting
        )
    )
    cand = segment.dictionary.select("term", "df").join(
        F.broadcast(toks),
        F.abs(F.length("term") - F.length("token")) <= F.lit(int(max_dist)),
    ).withColumn("dist", F.levenshtein(F.col("term"), F.col("token"))).filter(
        F.col("dist") <= int(max_dist)
    )
    sel = Window.partitionBy("query_id", "token").orderBy(
        F.asc("dist"), F.desc("df"), F.asc("term")
    )
    return (
        cand.withColumn("rn", F.row_number().over(sel))
        .filter(F.col("rn") <= int(n_suggest))
        .select(
            "query_id",
            "token",
            F.col("term").alias("suggestion"),
            F.col("dist").cast("int").alias("dist"),
            F.col("df").cast("long").alias("df"),
        )
    )


def complete_prefix(
    queries: DataFrame,
    segment: Segment,
    n_suggest: int = 5,
) -> DataFrame:
    """Completion suggester (the ES suggest-as-you-type / Lucene
    completion-field contract): for each query's partial token, the top
    dictionary terms extending it — ranked by document frequency desc then
    term asc (popularity-weighted completions). ``queries``: (query_id,
    text) where text IS the partial token; a prefix with no extensions
    produces no rows.

    Scale shape: the prefix set is query metadata broadcast against ONE
    dictionary pass (the :func:`fuzzy_topk` expansion shape); the ranking
    window partitions per query over at most vocabulary-sized candidates.
    Postings are never touched — completion is a dictionary-only surface.
    """
    from pyspark.sql.window import Window

    pref = queries.select("query_id", F.lower(F.trim(F.col("text"))).alias("prefix"))
    cand = segment.dictionary.select("term", "df").join(
        F.broadcast(pref), F.col("term").startswith(F.col("prefix"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("df"), F.asc("term"))
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= int(n_suggest))
        .select(
            "query_id",
            "prefix",
            F.col("rn").cast("int").alias("rn"),
            F.col("term").alias("suggestion"),
            F.col("df").cast("long").alias("df"),
        )
    )


def regex_topk(
    queries: DataFrame,
    segment: Segment,
    k: int | None = None,
    cfg: EngineConfig = DEFAULT,
    doc_mask: "np.ndarray | None" = None,
) -> DataFrame:
    """Top-k BM25 with Lucene RegexpQuery terms: a whitespace token wrapped
    in slashes (``/sc.n/``) expands to every dictionary term whose ENTIRE
    text matches the pattern (anchored ``^pat$`` — Lucene regexp semantics);
    plain tokens behave exactly as in ``bm25_topk_indexed``. Same scoring
    multi-term rewrite as :func:`prefix_topk` / :func:`fuzzy_topk`: each
    expansion scores with its own idf, deduped per query.

    Scale shape: fully declarative — the tiny pattern set broadcasts
    against ONE dictionary pass (a broadcast nested-loop join evaluating
    regexp_like per (term, pattern)); postings are never touched by
    expansion, and the expanded set drives the shared block-pruned
    MaxScore scan. Lucene compiles the regex to an automaton and
    intersects it with the term FST — the O(vocabulary) columnar scan is
    the Spark-native equivalent over a corpus-bounded vocabulary.
    """
    from ivfadc_spark.operators.deletes import live_broadcast

    k = k or cfg.top_k
    k1, b = float(cfg.k1), float(cfg.b)
    avgdl = float(segment.meta["avgdl"])
    bmask = live_broadcast(segment, doc_mask)
    n_buckets = int(segment.meta["config"].get("term_buckets", cfg.term_buckets))

    toks = (
        queries.select(
            "query_id",
            F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("tok"),
        )
        .withColumn(
            "is_re", F.col("tok").rlike("^/.+/$")
        )
        .withColumn(
            "pat",
            F.concat(
                F.lit("^"),
                F.expr("substring(tok, 2, length(tok) - 2)"),
                F.lit("$"),
            ),
        )
        .withColumn("stem", F.regexp_replace("tok", "[^a-z0-9]", ""))
        .select("query_id", "tok", "is_re", "pat", "stem")
        .distinct()
    )
    d = segment.dictionary.select("term", "idf")
    exact = (
        toks.filter(~F.col("is_re") & (F.length("stem") > 0))
        .select("query_id", F.col("stem").alias("term"))
        .join(F.broadcast(d), "term")
        .select("query_id", "term", "idf")
    )
    pats = toks.filter("is_re").select("query_id", "pat")
    expanded = d.join(
        F.broadcast(pats), F.regexp_like(F.col("term"), F.col("pat"))
    ).select("query_id", "term", "idf")
    qt = exact.unionByName(expanded).distinct().withColumn("term_bucket", _bucket_col(n_buckets))
    return _topk_scan_from_qt(segment, qt, k, k1, b, avgdl, bmask)
