"""Sharded inverted index as parquet posting tables.

Spark-first re-expression of the reference's hybrid full-text engine
(``muller/core/query/inverted_index_vectorized.py:206-310`` build,
``:617-758`` search, ``:122-158`` tokenizer):

- **build**: tokenize (regex word-split, case-fold, stop words; jieba for
  CJK when importable — same tokenizer family as the reference's
  jieba+whitespace) → ``explode`` → distinct ``(term, id)`` posting ROWS,
  written as parquet partitioned by
  ``shard = pmod(xxhash64(term), num_shards)`` and sorted by
  ``(term, id)`` within each shard file (RLE-friendly, and a hot term's
  ids delta-encode).  The reference's multiprocess batch/shard build
  (``num_of_batches``/``num_of_shards``) maps 1:1 onto Spark partitions;
  shard-pruned term lookups come free from parquet partition pruning on
  ``shard``.  Postings are deliberately NOT ``collect_set`` arrays: a
  stop-word-like term appearing in half the corpus would become one
  unbounded array in one row in one task — the exact skew/OOM the
  reference shards to avoid.  Plain rows keep every task bounded no
  matter how hot a term is; term frequency is a count aggregate computed
  where needed (``add_hot_shard``), never stored state.
- **search**: ``exact_match`` (whole cell), ``fuzzy_match`` (AND of query
  terms — intersect posting lists via groupBy/count), ``complex_fuzzy``
  (``"a||b"`` = OR over AND-groups), ``range_match`` (keys in [lo, hi],
  inclusive — reference ``:1230-1239``).  All return a DataFrame of row
  ids, usable as a semi-join against the base table.
- **staleness**: the manifest records the dataset commit id; searches
  against a moved HEAD fall back to scan (reference
  ``filter_vectorized.py:476-492``).
- **update**: the delta's posting rows are tokenized by the same helper
  as ``build`` and ADDED as new files (``delta-<segment>-*``, one per
  touched shard, under a fresh segment id) to the shard directories;
  nothing indexed is rewritten.  The manifest lists the appended
  segments, so files of an update that crashed before its manifest
  write are removed by the next update.  ``optimize()`` compacts the
  appended posting files.
- **swaps** (``optimize``, ``reshard``, docstats and typo-key rewrites)
  write the new table beside the live one and promote it by
  rename-rename-rmtree (``ledger._swap_log_dir``); an interrupted
  promote is healed by the next mutation or by :meth:`InvertedIndex.recover`
  — never by a read, which would race a running writer's renames.

Scalar (non-text) tensors are indexed by value string, mirroring the
reference's hashed-scalar postings (``:169-180``).
"""

from __future__ import annotations

import json
import os
import re
import uuid
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from muller_spark.errors import MullerSparkError
from muller_spark.fs import get_fs
from muller_spark.operators.ledger import _recover_log_swap, _swap_log_dir
from muller_spark.plans.conditions import TOKEN_SPLIT_REGEX
from muller_spark.schema import ROW_ID_COL

_JIEBA = None


def _get_jieba():
    global _JIEBA
    if _JIEBA is None:
        try:
            import jieba  # type: ignore

            _JIEBA = jieba
        except ImportError:
            _JIEBA = False
    return _JIEBA


def tokenize_py(text: str, case_sensitive: bool = False,
                stop_words: frozenset | None = None) -> list[str]:
    """Driver/executor-side tokenizer for query strings (and jieba parity
    when available)."""
    # not `is None`: Arrow-backed pandas delivers string nulls as pd.NA
    # (and plain pandas sometimes as float NaN), which would reach
    # .lower() and crash the whole index-build task
    if not isinstance(text, str):
        return []
    if not case_sensitive:
        text = text.lower()
    split_re = TOKEN_SPLIT_REGEX
    if case_sensitive:
        from muller_spark.plans.conditions import TOKEN_SPLIT_REGEX_CS

        split_re = TOKEN_SPLIT_REGEX_CS
    jieba = _get_jieba()
    if re.search(r"[一-鿿]", text):
        if jieba:
            toks = [t.strip() for t in jieba.cut(text) if t.strip()]
        else:
            # vendored forward-maximum-match segmenter (index/cjk.py):
            # deterministic dictionary longest-match, the same family as
            # the reference's jieba path — NOT whole-run blocks, so a
            # two-character query term matches inside a sentence
            from muller_spark.index.cjk import cut_mixed

            toks = [t.strip() for t in cut_mixed(text, split_re) if t.strip()]
    else:
        toks = [t for t in re.split(split_re, text) if t]
    if stop_words:
        toks = [t for t in toks if t not in stop_words]
    return toks


def _postings_frame(
    df: DataFrame,
    tensor: str,
    id_col: str,
    num_shards: int,
    case_sensitive: bool,
    stop_words: Sequence[str] | None,
    is_text: bool,
    positions: bool,
) -> "tuple[DataFrame, bool]":
    """Tokenize ``df[tensor]`` into posting rows ``(term, id[, pos],
    shard)``, clustered one shard per partition and sorted by ``(term,
    id)`` — the shared core of ``build`` and ``update``.  Returns the
    frame and whether the Python (CJK) tokenizer was chosen."""
    col = F.col(tensor)
    has_cjk = False
    if is_text:
        # one bounded probe job decides the tokenizer for the whole
        # build: pure regex split stays JVM-side (the fast path);
        # corpora containing CJK route through the Arrow-batched
        # Python tokenizer so index-side and query-side tokens agree
        # (tokenize_py is used for both)
        has_cjk = bool(df.filter(col.rlike("[一-鿿㐀-䶿]")).limit(1).take(1))
        if has_cjk:
            from pyspark.sql.types import ArrayType, StringType

            stop_set = frozenset(stop_words) if stop_words else None
            # lambda (not a hinted def): stringified hints from
            # `from __future__ import annotations` are unsupported
            # by pandas_udf signature inference in pyspark 4.1
            tok_udf = F.pandas_udf(
                lambda batch: batch.map(
                    lambda t: tokenize_py(
                        t, case_sensitive=case_sensitive, stop_words=stop_set
                    )
                ),
                ArrayType(StringType()),
            )
            tok_arr = tok_udf(col)
            if positions:
                exploded = df.select(
                    F.col(id_col).alias("id"),
                    F.posexplode(tok_arr).alias("pos", "term"),
                ).filter(F.col("term") != "")
            else:
                exploded = (
                    df.select(
                        F.col(id_col).alias("id"),
                        F.explode(tok_arr).alias("term"),
                    )
                    .filter(F.col("term") != "")
                )
        else:
            from muller_spark.plans.conditions import TOKEN_SPLIT_REGEX_CS

            if case_sensitive:
                base, split_re = col, TOKEN_SPLIT_REGEX_CS
            else:
                base, split_re = F.lower(col), TOKEN_SPLIT_REGEX
            terms = F.split(base, split_re)
            if positions:
                # positions index the FILTERED token stream (empties
                # and stop words removed before numbering), matching
                # the query-side tokenize_py stream — adjacency is
                # over surviving tokens on both sides
                kept = F.filter(terms, lambda t: t != "")
                if stop_words:
                    stop_arr = F.array(*[F.lit(w) for w in stop_words])
                    kept = F.filter(
                        kept, lambda t: ~F.array_contains(stop_arr, t)
                    )
                exploded = df.select(
                    F.col(id_col).alias("id"),
                    F.posexplode(kept).alias("pos", "term"),
                )
            else:
                exploded = (
                    df.select(
                        F.col(id_col).alias("id"),
                        F.explode(terms).alias("term"),
                    )
                    .filter(F.col("term") != "")
                )
                if stop_words:
                    exploded = exploded.filter(
                        ~F.col("term").isin(list(stop_words))
                    )
    else:
        # scalar index: one "term" per cell, the string form of the value
        exploded = df.select(
            F.col(id_col).alias("id"), col.cast("string").alias("term")
        ).filter(F.col("term").isNotNull())

    if not positions:
        exploded = exploded.distinct()  # one (term, id) row per pair
    # positional rows are unique by construction (one per token slot)
    return _sharded(exploded, num_shards), has_cjk


def _sharded(postings: DataFrame, num_shards: int) -> DataFrame:
    return (
        postings
        .withColumn("shard", F.pmod(F.xxhash64("term"), F.lit(num_shards)))
        .repartition(num_shards, "shard")
        .sortWithinPartitions("term", "id")
    )


def _postings_stats(postings: DataFrame) -> dict:
    """Manifest fields of a freshly written posting table, from one
    aggregate: ``n_postings`` (so the aggregate fast path's totality
    check never re-scans the table), ``max_id`` (so ``update`` can tell
    a delta of new ids from an overlapping one) and a fresh
    ``postings_id`` (so memoized reads re-open)."""
    r = postings.agg(
        F.count(F.lit(1)).alias("n"), F.max("id").alias("hi")
    ).first()
    hi = r["hi"] if isinstance(r["hi"], (int, float, str)) else None
    return {
        "n_postings": int(r["n"]),
        "max_id": hi,
        "postings_id": uuid.uuid4().hex,
    }


class InvertedIndex:
    def __init__(self, spark: SparkSession, path: str) -> None:
        self.spark = spark
        self.path = path
        self.fs = get_fs(path)
        self._manifest: dict | None = None
        # memoized lazy table plans (round 13, guide §2.4): every
        # spark.read.parquet call schedules a footer/schema-inference
        # job, which on the warm lookup path was one job per search
        # just to re-learn an unchanged schema.  A held read never sees
        # files added after it was opened, so the memo is keyed by the
        # manifest text it was opened under: every mutation (update,
        # swap, reshard, typo-key rewrite) writes a new manifest, and
        # ``_revalidate`` re-opens when the manifest on disk moved —
        # also when ANOTHER instance on the same path wrote it.
        self._postings_df: DataFrame | None = None
        self._typo_keys_df: DataFrame | None = None
        self._read_key: str | None = None

    def _invalidate_reads(self) -> None:
        self._postings_df = None
        self._typo_keys_df = None

    def _manifest_path(self) -> str:
        return os.path.join(self.path, "manifest.json")

    def _revalidate(self) -> None:
        """Re-read the manifest; drop the memoized reads when it differs
        from the one they were opened under."""
        raw = self.fs.read_text(self._manifest_path())
        if raw != self._read_key:
            self._invalidate_reads()
            self._manifest = json.loads(raw)
            self._read_key = raw

    def _write_manifest(self, m: dict) -> None:
        """Persist ``m``.  Reads memoized from here on were opened after
        the mutation that wrote ``m`` (every mutation invalidates them
        first), so they stay valid under the new manifest."""
        raw = json.dumps(m)
        self.fs.write_text(self._manifest_path(), raw)
        self._manifest, self._read_key = m, raw

    # -- build -----------------------------------------------------------
    @classmethod
    def build(
        cls,
        df: DataFrame,
        tensor: str,
        path: str,
        id_col: str = ROW_ID_COL,
        index_type: str = "fuzzy_match",
        num_shards: int = 8,
        case_sensitive: bool = False,
        stop_words: Sequence[str] | None = None,
        commit_id: str | None = None,
        is_text: bool = True,
        positions: bool = False,
        typo_keys: "int | None" = None,
    ) -> "InvertedIndex":
        spark = df.sparkSession
        postings, has_cjk = _postings_frame(
            df, tensor, id_col, num_shards, case_sensitive, stop_words,
            is_text, positions,
        )
        postings.write.mode("overwrite").partitionBy("shard").parquet(
            os.path.join(path, "postings")
        )
        fs = get_fs(path)
        fs.makedirs(path)
        manifest = {
            "tensor": tensor,
            "id_col": id_col,
            "index_type": index_type,
            "num_shards": num_shards,
            "case_sensitive": case_sensitive,
            "stop_words": sorted(stop_words) if stop_words else [],
            "commit_id": commit_id,
            "is_text": is_text,
            "tokenizer": ("cjk_fmm" if has_cjk else "regex") if is_text else "scalar",
            "positions": bool(positions),
            # appended segments (``update``); docstats is rewritten below
            "segments": [],
            **_postings_stats(spark.read.parquet(os.path.join(path, "postings"))),
        }
        fs.write_text(os.path.join(path, "manifest.json"), json.dumps(manifest))
        out = cls(spark, path)
        out._manifest = manifest
        if positions:
            out._write_docstats()
        if typo_keys:
            out.enable_typo_match(max_edits=int(typo_keys))
        return out

    @property
    def manifest(self) -> dict:
        if self._manifest is None:
            self._manifest = json.loads(self.fs.read_text(self._manifest_path()))
        return self._manifest

    def _postings_path(self) -> str:
        return os.path.join(self.path, "postings")

    def _postings(self) -> DataFrame:
        self._revalidate()
        if self._postings_df is None:
            self._postings_df = self.spark.read.parquet(self._postings_path())
        return self._postings_df

    def _typo_keys(self) -> DataFrame:
        self._revalidate()
        if self._typo_keys_df is None:
            self._typo_keys_df = self.spark.read.parquet(
                os.path.join(self.path, "typo_keys")
            )
        return self._typo_keys_df

    def recover(self) -> "InvertedIndex":
        """Finish a table swap (postings, docstats, typo keys) that a
        crash interrupted between its two renames.  Every mutation
        calls this first; reads never do, so a query running beside a
        writer cannot rename a directory in the middle of its swap."""
        for table in ("postings", "docstats", "typo_keys"):
            _recover_log_swap(os.path.join(self.path, table), self.fs)
        return self

    # -- search ----------------------------------------------------------
    def search(self, query, search_type: str = "fuzzy_match",
               max_edits: "int | None" = None) -> DataFrame:
        """Returns a DataFrame with a single ``id`` column of matches.
        ``search_type='typo_match'`` is AND-of-terms like
        ``fuzzy_match`` but tolerates up to ``max_edits`` Levenshtein
        edits per query token (default: the key table's depth) —
        requires typo keys (``build(..., typo_keys=d)`` or
        :meth:`enable_typo_match`)."""
        self._revalidate()
        if search_type == "exact_match":
            return self._exact(query)
        if search_type == "fuzzy_match":
            return self._fuzzy(query)
        if search_type == "typo_match":
            return self._typo(query, max_edits)
        if search_type == "complex_fuzzy_match":
            return self._complex(query)
        if search_type == "range_match":
            lo, hi = query
            return self._range(lo, hi)
        if search_type == "phrase_match":
            return self._phrase(query)
        raise ValueError(f"unknown search_type {search_type!r}")

    def _phrase(self, query: str) -> DataFrame:
        """Exact token-adjacency phrase match over a positional index:
        document matches iff tokens of ``query`` appear consecutively
        (in the post-filter token stream).  Each term's postings are
        shard-pruned reads; the phrase is an AND of k joins on
        (id, pos - offset) — candidate sets shrink with every join, so
        the plan is bounded by the rarest term's posting list."""
        if not self.manifest.get("positions"):
            raise ValueError(
                "phrase_match needs a positional index: build with "
                "positions=True"
            )
        terms = self._terms_of(query)
        if not terms:
            return self.spark.createDataFrame([], "id long")
        posts = self._lookup_terms(terms)
        anchored = None
        for i, t in enumerate(terms):
            side = (
                posts.filter(F.col("term") == t)
                .select("id", (F.col("pos") - F.lit(i)).alias("base"))
                .alias(f"t{i}")
            )
            anchored = side if anchored is None else anchored.join(
                side, ["id", "base"]
            )
        return anchored.select("id").distinct()

    def bm25(
        self,
        query: str,
        k: int = 10,
        k1: float = 1.2,
        b: float = 0.75,
        round_to: int = 5,
    ) -> DataFrame:
        """BM25 ranked retrieval over the positional posting table —
        the ranking extension the reference's unranked fuzzy search
        lacks (``inverted_index_vectorized.py`` returns id sets only).
        Classic Robertson/Lucene formulation per matched term:

        ``idf = ln((N − df + 0.5)/(df + 0.5) + 1)``
        ``w = idf · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))``

        with tf the (term, doc) frequency (count of position rows), dl
        the document's post-filter token count, N/avgdl corpus stats
        from the same postings.  Returns the top-``k``
        ``(id, score)`` ordered score-desc / id-asc; score is rounded
        (ln is transcendental — same round5 discipline as the LM
        scores) so cross-engine value hashes match.

        Scale shape: the query terms' postings are shard-pruned reads
        (``_lookup_terms``); tf/df frames are bounded by docs that
        contain a query term and broadcast into the doc-length frame;
        the final top-k plans as TakeOrderedAndProject.  Doc lengths
        come from the narrow ``docstats`` (id, dl) table persisted at
        build/update time (``_write_docstats``), so a query touches
        only the query terms' shards plus that table — never a full
        posting scan; indexes built before docstats existed fall back
        to computing it on the fly."""
        self._revalidate()
        if not self.manifest.get("positions"):
            raise ValueError(
                "bm25 needs a positional index (tf = count of position "
                "rows): build with positions=True"
            )
        terms = self._terms_of(query)
        if not terms:
            return self.spark.createDataFrame([], "id long, score double")
        dl = self._docstats()
        stats = dl.agg(
            F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl")
        )
        tf = (
            self._lookup_terms(list(dict.fromkeys(terms)))
            .groupBy("id", "term")
            .agg(F.count(F.lit(1)).alias("tf"))
        )
        dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
        # tf is bounded by docs CONTAINING a query term — for a frequent
        # term over a large corpus that's unbounded, so no forced
        # broadcast (maybe_broadcast with no proven bound = let AQE pick
        # from runtime size).  dfreq (≤ #query terms) and stats (1 row)
        # are provably tiny and keep their hints.
        from muller_spark.operators.joins import maybe_broadcast

        scored = (
            dl.join(maybe_broadcast(tf), "id")
            .join(maybe_broadcast(dfreq, bound=len(terms)), "term")
            .crossJoin(F.broadcast(stats))
        )
        idf = F.log(
            (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
        )
        w = idf * (F.col("tf") * (k1 + 1)) / (
            F.col("tf")
            + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
        )
        # term-ascending ordered fold, not F.sum: with 3+ matched terms
        # an unordered double sum is partition-order-dependent in the
        # last ulp, which can flip the round5 value and the top-k
        # boundary across engines/partitionings (same discipline as
        # rrf_fuse and the mixture normalizer; the SQL oracle folds
        # list(w ORDER BY term) identically)
        return (
            scored.groupBy("id")
            .agg(
                F.round(
                    F.aggregate(
                        F.array_sort(
                            F.collect_list(F.struct(F.col("term"), w.alias("w")))
                        ),
                        F.lit(0.0),
                        lambda acc, s: acc + s["w"],
                    ),
                    round_to,
                ).alias("score")
            )
            .orderBy(F.col("score").desc(), F.col("id").asc())
            .limit(k)
        )

    def _docstats_path(self) -> str:
        return os.path.join(self.path, "docstats")

    def _write_docstats(self) -> None:
        """Persist per-document post-filter token counts (id, dl) next
        to the postings — one aggregate at build time so BM25 serving
        never re-scans the posting table for corpus stats (``update``
        appends the delta's rows instead).  Maintenance ops that only
        re-bucket rows (reshard, hot shards, optimize) leave (term, id,
        pos) contents unchanged, so the stats stay valid without a
        rewrite."""
        final = self._docstats_path()
        (
            self._postings()
            .groupBy("id")
            .agg(F.count(F.lit(1)).alias("dl"))
            .write.mode("overwrite")
            .parquet(final + ".compact")
        )
        _swap_log_dir(final, self.fs)

    def _docstats(self) -> DataFrame:
        """(id, dl) frame for BM25 — the persisted table when present,
        else computed from the postings (indexes built before docstats
        existed)."""
        if self.fs.isdir(self._docstats_path()):
            return self.spark.read.parquet(self._docstats_path())
        return self._postings().groupBy("id").agg(
            F.count(F.lit(1)).alias("dl")
        )

    def _terms_of(self, query: str) -> list[str]:
        m = self.manifest
        return tokenize_py(
            query,
            case_sensitive=m["case_sensitive"],
            stop_words=frozenset(m["stop_words"]) or None,
        )

    def _hot_postings(self) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.path, "postings_hot"))

    def _lookup_terms(self, terms: list[str]) -> DataFrame:
        """Posting rows for the given terms; shard pruning via the
        partition column keeps this a K-partition read, not a full scan.
        Terms materialized in the hot shard (manifest-routed, see
        ``add_hot_shard``) read the small dedicated table instead."""
        cols = (
            ["term", "id", "pos"] if self.manifest.get("positions")
            else ["term", "id"]
        )
        hot_set = set(self.manifest.get("hot_terms") or [])
        hot = [t for t in terms if t in hot_set]
        cold = [t for t in terms if t not in hot_set]
        parts = []
        if hot:
            parts.append(
                self._hot_postings().filter(F.col("term").isin(hot))
                .select(*cols)
            )
        if cold:
            from muller_spark.xxh64 import shard_of

            num_shards = self.manifest["num_shards"]
            p = self._postings()
            # shard routing computed on the DRIVER (xxh64 twin pinned
            # bit-equal to F.xxhash64 by test): the probe terms are
            # already driver-side strings, so the LocalRelation →
            # distinct → collect job this used to schedule was pure
            # scheduling latency on every warm lookup (guide §2.4)
            shard_vals = sorted({shard_of(t, num_shards) for t in cold})
            terms_df = self.spark.createDataFrame(
                [(t,) for t in cold], ["term"]
            )
            parts.append(
                p.filter(F.col("shard").isin(shard_vals))
                .join(F.broadcast(terms_df), "term", "inner")
                .select(*cols)
            )
        if not parts:
            return self.spark.createDataFrame(
                [], "term string, id long, pos int"
                if self.manifest.get("positions") else "term string, id long"
            )
        out = parts[0]
        for extra in parts[1:]:
            out = out.unionByName(extra)
        return out

    def _fuzzy(self, query: str) -> DataFrame:
        terms = self._terms_of(query)
        if not terms:
            return self.spark.createDataFrame([], "id long")
        hits = self._lookup_terms(terms)
        uniq = sorted(set(terms))
        if len(uniq) > 63:
            # bitmask would overflow a long: keep the distinct aggregate
            return (
                hits.groupBy("id")
                .agg(F.countDistinct("term").alias("nt"))
                .filter(F.col("nt") == len(uniq))
                .select("id")
            )
        # AND-of-terms as one bit_or aggregate (round 13): term → bit is
        # a tiny driver-built CASE, so the two-phase countDistinct
        # exchange collapses to a single exchange on id — identical
        # semantics (OR of bits full ⟺ every distinct term present)
        bit = F.lit(None).cast("long")
        for i, t in enumerate(uniq):
            bit = F.when(F.col("term") == t, F.lit(1 << i)).otherwise(bit)
        full = (1 << len(uniq)) - 1
        return (
            hits.select("id", bit.alias("_b"))
            .groupBy("id")
            .agg(F.bit_or("_b").alias("_m"))
            .filter(F.col("_m") == full)
            .select("id")
        )

    # -- typo tolerance (round-12, VERDICT r11 #5) -------------------------

    # loud bound on the verified candidate-term collect: deletion
    # neighborhoods are tiny in practice (tens of terms per probe), but a
    # pathological vocabulary dense around very short probes could blow
    # the driver-side grouping — refuse instead of OOMing
    _TYPO_CANDIDATE_CAP = 50_000

    def enable_typo_match(self, max_edits: int = 1,
                          max_token_len: int = 24) -> "InvertedIndex":
        """Build the SymSpell deletion-key table from THIS index's own
        term dictionary, enabling ``search(..., 'typo_match')`` — the
        typo-tolerant twin of the reference's AND-of-terms fuzzy search
        (``muller/core/query/inverted_index_vectorized.py:741-758``,
        which has no edit tolerance anywhere).

        Layout: ``<index>/typo_keys`` parquet ``(term, k)`` partitioned
        by ``kshard = pmod(xxhash64(k), num_shards)`` — probe lookups
        prune to the probe keys' shards exactly like posting lookups.
        Terms longer than ``max_token_len`` contribute only their
        identity key (they can still be matched exactly, never fuzzily
        — the depth-2 fan-out is quadratic in token length, so the cap
        is the documented cost bound, same contract as
        ``index/fuzzy.py``).  The manifest records the key table's
        geometry AND the posting count it was derived from — the
        staleness contract ``typo_match`` checks (``update`` refreshes
        the keys, so staleness only means out-of-band tampering)."""
        if max_edits not in (1, 2):
            raise ValueError(
                f"typo keys support max_edits in (1, 2); got {max_edits}"
            )
        self.recover()
        m = dict(self.manifest)
        self._write_typo_keys(max_edits, max_token_len, m["num_shards"])
        m["typo_keys"] = {
            "max_edits": int(max_edits),
            "max_token_len": int(max_token_len),
            "n_postings": m["n_postings"],
        }
        self._write_manifest(m)
        return self

    def _write_typo_keys(self, max_edits: int, max_token_len: int,
                         num_shards: int) -> None:
        from muller_spark.index.fuzzy import _keys_col

        terms = self._postings().select("term").distinct()
        keys = terms.select(
            "term",
            F.explode(
                F.when(
                    F.length("term") <= max_token_len,
                    _keys_col(F.col("term"), max_edits),
                ).otherwise(F.array(F.col("term")))
            ).alias("k"),
        ).withColumn("kshard", F.pmod(F.xxhash64("k"), F.lit(num_shards)))
        live = os.path.join(self.path, "typo_keys")
        (
            keys.repartition(num_shards, "kshard")
            .sortWithinPartitions("k", "term")
            .write.mode("overwrite")
            .partitionBy("kshard")
            .parquet(live + ".compact")
        )
        _swap_log_dir(live, self.fs)
        self._invalidate_reads()

    def _typo(self, query: str, max_edits: "int | None" = None) -> DataFrame:
        """AND-of-query-tokens with per-token Levenshtein tolerance: a
        document matches iff for EVERY query token it contains at least
        one vocabulary term within ``max_edits`` of it.  Plan: driver-
        side probe keys (tiny) → kshard-pruned key-table join → exact
        Levenshtein verify on the candidate sliver → bounded collect of
        the (token, term) map → shard-pruned posting lookup of the
        candidate terms only.  Never scans the posting table, never
        joins vocabulary × probes."""
        from muller_spark.index.fuzzy import deletion_keys

        m = self.manifest
        tk = m.get("typo_keys")
        if not tk:
            raise MullerSparkError(
                "typo_match needs a deletion-key table: build the index "
                "with typo_keys=1 (or 2), or call enable_typo_match()"
            )
        if tk["n_postings"] != m["n_postings"]:
            raise MullerSparkError(
                "typo keys are stale (built over "
                f"{tk['n_postings']} postings, index now has "
                f"{m['n_postings']}): call enable_typo_match() to refresh"
            )
        d = tk["max_edits"] if max_edits is None else int(max_edits)
        if d > tk["max_edits"]:
            raise ValueError(
                f"max_edits={d} exceeds the key table depth "
                f"{tk['max_edits']}; rebuild with enable_typo_match("
                f"max_edits={d})"
            )
        tokens = self._terms_of(query)
        if not tokens:
            return self.spark.createDataFrame([], "id long")
        qset = sorted(set(tokens))
        probe_rows = [
            (t, k) for t in qset for k in deletion_keys(t, d)
        ]
        from muller_spark.xxh64 import shard_of

        probes = self.spark.createDataFrame(probe_rows, "qt string, k string")
        num_shards = m["num_shards"]
        # driver-side kshard routing (bit-equal xxh64 twin; see
        # _lookup_terms) — the probe keys are driver-side strings, so
        # no job is scheduled to learn which shards to read
        shard_vals = sorted({shard_of(k, num_shards) for _, k in probe_rows})
        keys = self._typo_keys()
        # no distinct on the warm path: the (qt, term) dedup runs on the
        # driver below — the distinct's exchange was a whole AQE stage
        # job for rows the collect dedups anyway.  A pair repeats once
        # per shared deletion key (~300 rows at d=2), so the raw rows
        # overflow the cap long before the distinct pairs do: only an
        # overflow recounts distinct pairs, and only that count decides
        # the raise.  Either collect holds at most cap + 1 rows.
        cand = (
            keys.filter(F.col("kshard").isin(shard_vals))
            .join(F.broadcast(probes), "k")
            .select("qt", "term")
            .where(F.levenshtein(F.col("term"), F.col("qt")) <= d)
        )
        cap = self._TYPO_CANDIDATE_CAP
        cand_rows = cand.limit(cap + 1).collect()
        if len(cand_rows) > cap:
            cand_rows = cand.distinct().limit(cap + 1).collect()
        if len(cand_rows) > cap:
            raise MullerSparkError(
                f"typo_match candidate set exceeds {cap} distinct (token, "
                "term) pairs (query tokens too short/dense for this "
                "vocabulary); tighten the query or lower max_edits"
            )
        per_qt: dict = {}
        for r in cand_rows:
            per_qt.setdefault(r["qt"], set()).add(r["term"])
        if len(per_qt) < len(qset):
            # some query token has NO in-tolerance vocabulary term:
            # AND-of-tokens can never hold
            return self.spark.createDataFrame([], "id long")
        all_terms = sorted({t for ts in per_qt.values() for t in ts})
        hits = self._lookup_terms(all_terms).select("term", "id")
        if len(qset) > 63:
            # bitmask would overflow a long: count covered tokens instead
            pairs = self.spark.createDataFrame(
                sorted((t, qt) for qt, ts in per_qt.items() for t in ts),
                "term string, qt string",
            )
            return (
                hits.join(F.broadcast(pairs), "term")
                .groupBy("id")
                .agg(F.countDistinct("qt").alias("nt"))
                .filter(F.col("nt") == len(qset))
                .select("id")
            )
        # AND-of-query-tokens as ONE bit_or aggregate (round 13): each
        # candidate term carries the bitmask of query tokens it covers
        # (a term can sit within tolerance of several), and a document
        # matches iff the OR of its terms' masks is full — identical to
        # countDistinct(qt) == len(qset), one exchange instead of the
        # two-phase distinct aggregate.
        qbit = {qt: 1 << i for i, qt in enumerate(qset)}
        term_mask: dict = {}
        for qt, ts in per_qt.items():
            for t in ts:
                term_mask[t] = term_mask.get(t, 0) | qbit[qt]
        mapping = self.spark.createDataFrame(
            sorted(term_mask.items()), "term string, qtmask long",
        )
        full = (1 << len(qset)) - 1
        return (
            hits.join(F.broadcast(mapping), "term")
            .groupBy("id")
            .agg(F.bit_or("qtmask").alias("_m"))
            .filter(F.col("_m") == full)
            .select("id")
        )

    def _complex(self, query: str) -> DataFrame:
        parts = [p for p in query.split("||") if p.strip()]
        out = None
        for part in parts:
            cur = self._fuzzy(part)
            out = cur if out is None else out.union(cur)
        if out is None:
            return self.spark.createDataFrame([], "id long")
        return out.distinct()

    def _exact(self, query) -> DataFrame:
        from muller_spark.xxh64 import shard_of

        p = self._postings()
        term = str(query) if not self.manifest["is_text"] else (
            query if self.manifest["case_sensitive"] else str(query).lower()
        )
        # driver-side shard math (bit-equal xxh64 twin; see _lookup_terms)
        shard = shard_of(term, self.manifest["num_shards"])
        return (
            p.filter((F.col("shard") == shard) & (F.col("term") == term))
            .select("id")
            .distinct()
        )

    def update(self, df: DataFrame, commit_id: str | None = None) -> "InvertedIndex":
        """Incremental maintenance after appends (reference
        ``update_index``, ``inverted_index_vectorized.py:397``): tokenize
        only ``df`` (the delta rows) and ADD its posting files — one per
        touched shard — and, for a positional index, its docstats rows
        to the existing tables; ``n_postings`` grows by the delta's
        count.  Nothing already indexed is read, shuffled or rewritten.

        The files are named ``delta-<segment>-*`` under a fresh segment
        id, and the manifest lists the appended segments, so a crash
        between the append and the manifest write is repaired by the
        next ``update``: segment files the manifest does not list are
        removed before anything is appended, and a retry lands the delta
        exactly once.

        A delta whose ids overlap the indexed ones (its smallest id is
        not above the manifest's ``max_id``) falls back to the full
        row-level merge: union, ``distinct``, rewrite and swap — the
        same result as indexing the union."""
        self.recover()
        m = dict(self.manifest)
        self._drop_unlisted_segments(m.get("segments") or [])
        stage = self._postings_path() + "_delta"
        delta, _ = _postings_frame(
            df, m["tensor"], m["id_col"], m["num_shards"],
            m["case_sensitive"], m["stop_words"] or None, m["is_text"],
            m.get("positions", False),
        )
        delta.write.mode("overwrite").partitionBy("shard").parquet(stage)
        staged = self.spark.read.schema(delta.schema).parquet(stage)
        st = staged.agg(
            F.count(F.lit(1)).alias("n"), F.min("id").alias("lo"),
            F.max("id").alias("hi"),
        ).first()
        hi = m.get("max_id")
        if st["n"] and "max_id" not in m:  # an index built before max_id
            hi = self._postings().agg(F.max("id")).first()[0]
        if st["n"] and hi is not None and st["lo"] <= hi:
            self._merge_rewrite(m, staged, commit_id)
        else:
            if st["n"]:
                segment = uuid.uuid4().hex
                self._append_segment(staged, stage, segment, m)
                m["n_postings"] = int(m["n_postings"]) + int(st["n"])
                m["max_id"] = st["hi"] if hi is None else max(hi, st["hi"])
                m["segments"] = (m.get("segments") or []) + [segment]
                m["postings_id"] = uuid.uuid4().hex
                self._invalidate_reads()
            m["commit_id"] = commit_id
            self._refresh_derived(m)
        self.fs.rmtree(stage)
        if m.get("hot_terms"):
            # hot-shard postings are a copy — refresh them from the merge
            self.add_hot_shard(len(m["hot_terms"]))
        return self

    def _drop_unlisted_segments(self, listed: list) -> None:
        """Remove appended segment files the manifest does not list —
        the leftovers of an ``update`` that crashed before its manifest
        write."""
        keep = set(listed)
        for d in (self._postings_path(), self._docstats_path()):
            if not self.fs.isdir(d):
                continue
            for sub in self.fs.listdir(d):
                full = os.path.join(d, sub)
                names = self.fs.listdir(full) if sub.startswith("shard=") else [sub]
                base = full if sub.startswith("shard=") else d
                for name in names:
                    seg = name[len("delta-"):].rsplit("-", 1)[0]
                    if name.startswith("delta-") and seg not in keep:
                        self.fs.remove(os.path.join(base, name))

    def _append_segment(
        self, staged: DataFrame, stage: str, segment: str, m: dict
    ) -> None:
        """Move the staged delta's posting files into the live shard
        directories and, for a positional index with persisted
        docstats, add the delta's (id, dl) rows — every file named
        ``delta-<segment>-<n>``."""
        stats = self._docstats_path()
        with_stats = m.get("positions") and self.fs.isdir(stats)
        if with_stats:
            (
                staged.groupBy("id").agg(F.count(F.lit(1)).alias("dl"))
                .coalesce(1)
                .write.mode("overwrite").parquet(stats + "_delta")
            )
        for sub in sorted(self.fs.listdir(stage)):
            if sub.startswith("shard="):
                self._move_parts(
                    os.path.join(stage, sub),
                    os.path.join(self._postings_path(), sub), segment,
                )
        if with_stats:
            self._move_parts(stats + "_delta", stats, segment)
            self.fs.rmtree(stats + "_delta")

    def _move_parts(self, src_dir: str, dst_dir: str, segment: str) -> None:
        self.fs.makedirs(dst_dir)
        parts = [f for f in sorted(self.fs.listdir(src_dir)) if f.endswith(".parquet")]
        for i, name in enumerate(parts):
            self.fs.rename(
                os.path.join(src_dir, name),
                os.path.join(dst_dir, f"delta-{segment}-{i:05d}.parquet"),
            )

    def _merge_rewrite(self, m: dict, staged: DataFrame, commit_id) -> None:
        """Overlapping delta: row-level merge of the whole posting table
        with the delta (no per-term array ever materializes)."""
        cols = ["term", "id", "pos"] if m.get("positions") else ["term", "id"]
        merged = _sharded(
            self._postings().select(*cols)
            .unionByName(staged.select(*cols))
            .distinct(),
            m["num_shards"],
        )
        self._replace_postings(merged)
        m["segments"] = []  # the rewrite folded every appended file
        if m.get("positions"):
            # refresh docstats BEFORE the fresh manifest lands: a crash
            # in between leaves old-manifest + new-stats (harmlessly
            # re-derivable), never fresh-looking metadata over stale
            # stats that would silently drop the delta docs from BM25
            self._write_docstats()
        m.update(_postings_stats(self._postings()), commit_id=commit_id)
        self._refresh_derived(m)

    def _refresh_derived(self, m: dict) -> None:
        """Re-derive the typo-key table when the index has one, then
        write the manifest ``m``."""
        if m.get("typo_keys"):
            # the deletion-key table derives from the term dictionary —
            # refresh it from the merged postings and re-pin the count
            # (staleness contract: typo_keys.n_postings == n_postings)
            tk = m["typo_keys"]
            self._write_typo_keys(
                tk["max_edits"], tk["max_token_len"], m["num_shards"]
            )
            m["typo_keys"] = dict(tk, n_postings=m["n_postings"])
        self._write_manifest(m)

    # -- maintenance -----------------------------------------------------
    def _replace_postings(self, new_postings: DataFrame) -> None:
        """Write a replacement posting table next to the live one and
        promote it crash-safely (``ledger._swap_log_dir``)."""
        live = self._postings_path()
        new_postings.write.mode("overwrite").partitionBy("shard").parquet(
            live + ".compact"
        )
        _swap_log_dir(live, self.fs)
        self._invalidate_reads()

    def _swap_postings(self, new_postings: DataFrame, manifest_updates: dict) -> None:
        """Replace the posting table (:meth:`_replace_postings`) and
        persist the manifest changes plus the new table's stats.  The
        docstats table is left as it is (re-bucketing keeps every (term,
        id, pos) row), so the manifest keeps listing the segments whose
        docstats files are still appended there."""
        self._replace_postings(new_postings)
        m = dict(self.manifest)
        m.update(manifest_updates)
        m.update(_postings_stats(self._postings()))
        self._write_manifest(m)

    def reshard(self, num_shards: int) -> "InvertedIndex":
        """Re-bucket the posting table into a new shard count (reference
        ``reshard_index``, ``inverted_index_vectorized.py:526``) without
        re-tokenizing the corpus: one keyed shuffle of the posting rows,
        O(terms), independent of corpus size."""
        self.recover()
        p = (
            self._postings().drop("shard")
            .withColumn("shard", F.pmod(F.xxhash64("term"), F.lit(num_shards)))
            .repartition(num_shards, "shard")
            .sortWithinPartitions("term", "id")
        )
        self._swap_postings(p, {"num_shards": num_shards})
        return self

    def optimize(self) -> "InvertedIndex":
        """Compact each shard to one parquet file (reference
        ``optimize_index``, ``inverted_index_vectorized.py:313``) —
        incremental ``update`` calls and wide builds leave many small
        files per shard; lookups then open O(files) footers instead of
        O(1)."""
        self.recover()
        m = self.manifest
        p = (
            self._postings()
            .repartition(int(m["num_shards"]), "shard")
            .sortWithinPartitions("term", "id")
        )
        self._swap_postings(p, {})
        return self

    def add_hot_shard(self, top_n: int = 100) -> "InvertedIndex":
        """Materialize the ``top_n`` highest-frequency terms into a
        dedicated un-sharded posting table probed first at query time
        (reference ``add_hot_shard``, ``inverted_index_vectorized.py:537``).
        The hot term list itself lives in the manifest, so routing is a
        driver-side set lookup — zero extra jobs for cold terms."""
        self.recover()
        p = self._postings()
        hot_terms = (
            p.groupBy("term")
            .agg(F.count(F.lit(1)).alias("freq"))  # map-side partial count
            .orderBy(F.col("freq").desc(), F.col("term"))
            .limit(int(top_n))
            .select("term")
        )
        cols = (
            ["term", "id", "pos"] if self.manifest.get("positions")
            else ["term", "id"]
        )
        hot = p.join(F.broadcast(hot_terms), "term", "inner").select(*cols)
        hot_path = os.path.join(self.path, "postings_hot")
        hot.write.mode("overwrite").parquet(hot_path)
        terms = [r["term"] for r in hot_terms.collect()]
        m = dict(self.manifest)
        m["hot_terms"] = sorted(terms)
        self._write_manifest(m)
        return self

    def _range(self, lo, hi) -> DataFrame:
        """Inclusive range over scalar index keys (reference
        ``inverted_index_vectorized.py:1230-1239``)."""
        p = self._postings()
        key = F.col("term").cast("double")
        return (
            p.filter(key.isNotNull() & key.between(float(lo), float(hi)))
            .select("id")
            .distinct()
        )
