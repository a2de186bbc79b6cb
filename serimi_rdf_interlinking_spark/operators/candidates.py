"""Candidate retrieval + F11 similarity filtering, batched.

The reference issues one Virtuoso `bif:contains` query per (keyword,
predicate) with retry-on-error and break-on-first-hit
(search_module.rb:62-198). Here the whole corpus is searched at once
against an inverted token index (explode + distinct, per-token fan-out
capped: hot tokens like 'john' otherwise explode J2, SURVEY.md §7) over
`target_literals`, the one view of the target's searchable literals
that F11 reads too.

The search cascade is one loop over tiers (the matcher's `_retrieve`);
each tier searches only the keywords every earlier tier missed:

* tier 1, phrase (J2): each keyword's RAREST token joins the index,
  and the phrase is verified JVM-side with instr();
* tier 2, AND (J3, search_module.rb:126-168): trailing-token-drop
  prefixes (len>=2) and the stopword-stripped variant need ALL their
  tokens in one literal;
* tier 3, word-by-word (J4, opt-in): each token searches alone.

Every tier then takes the same steps: `tag_tiers` gives each hit its
predicate's cascade priority, `f11_passing` (search_module.rb:228-270)
keeps hits whose candidate has a literal beating the threshold, and
`select_candidates` keeps each keyword's `first_hits` — batch-evaluating
the predicates and then taking the min priority is the set-oriented
equivalent of the reference's sequential break.
"""

from __future__ import annotations

import functools
import logging
import operator

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

log = logging.getLogger(__name__)

from ..config import SerimiConfig
from ..functions.columns import lit_map, norm_text, norm_tokens
from ..functions.columns import paren_strip, valid_date_col
from ..functions.udfs import asm_passes_udf
from ..sources.triples import WIKI_REDIRECT

YAGO_PREFIX = "http://dbpedia.org/class/yago/"
KEYWORD_MAX_LEN = 150  # F8 label hygiene (serimi_module.rb:160)
MIN_KEYWORD_LEN = 3    # search skips keywords < 3 chars (search_module.rb:71)


# ---------------------------------------------------------------------------
# keyword preparation (F8 hygiene + search-level cleanup)
# ---------------------------------------------------------------------------


def prepare_keywords(
    source: DataFrame, ranked: DataFrame, labels: list[str]
) -> DataFrame:
    """(src, rank, chunk_id, label_idx, kw, kw_norm, searchable).

    Hygiene per serimi_module.rb:159-164 (len<=KEYWORD_MAX_LEN, no
    bnodes, no dates, paren-strip, distinct) then search-level cleanup
    (search_module.rb:69-71: '*'->' ', drop '\"', searchable iff
    len>=MIN_KEYWORD_LEN). Non-searchable keywords are kept — they
    still enter @searchedlabels for F12 scoring (serimi_module.rb:173).
    """
    label_map = lit_map({lab: i for i, lab in enumerate(labels)})
    kw = (
        source.join(ranked, "s")
        .filter(F.col("p").isin(labels) & ~F.col("is_bnode") & ~F.col("o_is_uri"))
        .withColumn("label_idx", label_map[F.col("p")])
        .filter(F.length("o") <= KEYWORD_MAX_LEN)
        .filter(~valid_date_col("o"))
        .withColumn("kw", paren_strip("o"))
        .withColumn(
            "kw", F.regexp_replace(F.regexp_replace("kw", r"\*", " "), '"', "")
        )
        .select("s", "rank", "chunk_id", "label_idx", "kw")
        .distinct()
        .withColumn("searchable", F.length("kw") >= MIN_KEYWORD_LEN)
        .withColumn("kw_norm", norm_text("kw"))
    )
    return kw


# hot-key skew guard, shared by the token cap below and dedup's
# hot-shingle drop. Membership mechanism switch: below this many hot
# keys an isin() literal is cheapest (no extra join, no plan bloat);
# above it — e.g. a low ceiling over a large corpus — the literal would
# inflate the plan/driver, so membership goes through a broadcast
# semi/anti join instead (degrades gracefully with the hot-set size).
HOT_LIST_ISIN_MAX = 2048


def hot_keys(df: DataFrame, key: str, ceiling: int) -> list:
    """Values of string column `key` in more than `ceiling` rows of
    `df`, in one collect job: the hot set is small by construction, and
    on the driver it has no persist() lifecycle to leak."""
    return [
        r[0]
        for r in df.groupBy(key)
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > ceiling)
        .select(key)
        .collect()
    ]


def split_hot(
    df: DataFrame, key: str, hot: list
) -> tuple[DataFrame, DataFrame]:
    """(cold, hot) rows of `df` by membership of `key` in `hot`, both
    in `df`'s column order."""
    if len(hot) <= HOT_LIST_ISIN_MAX:
        is_hot = F.col(key).isin(hot)
        return df.filter(~is_hot), df.filter(is_hot)
    hot_df = F.broadcast(
        df.sparkSession.createDataFrame([(k,) for k in hot], f"{key} string")
    )
    cols = df.columns  # USING-join reorders the key first; restore
    return (
        df.join(hot_df, key, "left_anti").select(*cols),
        df.join(hot_df, key, "left_semi").select(*cols),
    )


# ---------------------------------------------------------------------------
# inverted token index over target literals
# ---------------------------------------------------------------------------


def target_literals(target: DataFrame, cfg: SerimiConfig) -> DataFrame:
    """(cand, p, o, norm_o): non-URI, non-bnode target triples, minus
    yago subjects (F6, cfg.dbpedia_target) and redirect subjects (F7,
    cfg.drop_redirect_candidates). Both drop whole subjects, so an
    indexed candidate keeps all its literals here for F11."""
    lits = target.filter(~F.col("o_is_uri") & ~F.col("is_bnode"))
    if cfg.dbpedia_target:
        lits = lits.filter(~F.col("s").startswith(YAGO_PREFIX))
    if cfg.drop_redirect_candidates:
        # F7 search-time redirect anti-join (dbpedia_filter,
        # search_module.rb:298-304). NOTE: the reference's only call
        # site (search_module.rb:113) is commented out — F7 is dead
        # code there, because dropping redirect-subjects at search time
        # starves F13 redirect expansion (serimi_module.rb:86) of the
        # alias candidates it replaces. Opt-in for users who want
        # redirect stubs out of the candidate budget and do not rely
        # on alias-only labels.
        redirect_subjects = (
            target.filter(F.col("p") == WIKI_REDIRECT)
            .select(F.col("s").alias("cand"))
            .distinct()
        )
        lits = lits.join(
            redirect_subjects,
            lits["s"] == redirect_subjects["cand"],
            "left_anti",
        )
    return lits.select(
        F.col("s").alias("cand"), "p", "o", norm_text("o").alias("norm_o")
    )


def raw_token_index(lits: DataFrame) -> DataFrame:
    """The UNCAPPED inverted index (cand, p, norm_o, tok) over `lits`
    (`target_literals`). Callers apply `apply_hot_token_cap`, again
    after restricting `p` (`search_index`), so the cap reflects the
    index joined."""
    return (
        lits.select("cand", "p", "norm_o")
        .withColumn("tok", F.explode(F.array_distinct(norm_tokens("norm_o"))))
        .distinct()
    )


# hot-token skew guard: an index token in more rows than this is capped
# to a deterministic sample of exactly this many rows, which bounds
# every token-join key at the ceiling (no salting needed)
MAX_CANDIDATES_PER_TOKEN = 5000


def apply_hot_token_cap(idx: DataFrame) -> DataFrame:
    """Skew guard over an inverted index: tokens whose fan-out exceeds
    MAX_CANDIDATES_PER_TOKEN are CAPPED to a deterministic sample of
    that many rows (the cap smallest (cand, p, norm_o) triples,
    chosen by a two-level truncating aggregate so no single task ever
    sorts a hot token's full fan-in). A hot token ('john' across 1M
    person labels) contributes no phrase selectivity — tier-1 joins
    only each keyword's rarest token — but its uncapped fan-in would
    quadratically fan out the tier-2 AND join. Capping (rather than
    dropping, the pre-round-3 behavior) keeps a keyword findable even
    when EVERY one of its tokens is hot, while still bounding every
    downstream token join at MAX_CANDIDATES_PER_TOKEN rows per key.

    The fan-out scan runs on `idx` AS GIVEN: callers that restrict the
    index to the learned search predicates re-apply this cap on the
    RESTRICTED frame (`search_index`), so a token hot on the any-predicate
    index but cold under the searched predicates is never capped — the
    round-3 half-closure of this guard.

    The hot set is found and applied by the shared hot-key guard
    (`hot_keys` collects it to the driver, `split_hot` splits the index
    by membership)."""
    cap = MAX_CANDIDATES_PER_TOKEN
    hot_list = hot_keys(idx, "tok", cap)
    if not hot_list:
        return idx
    log.warning(
        "apply_hot_token_cap: capping %d hot tokens with fan-out > %d "
        "to a deterministic %d-row sample each (bounded-fan-out skew "
        "guard)",
        len(hot_list),
        cap,
        cap,
    )
    cold, hot = split_hot(idx, "tok", hot_list)
    # two-level truncating top-k (same shape as similarity._partial_topk):
    # level 1 truncates per (tok, input partition) map-side, so the
    # shuffle carries at most cap rows per partition per hot token;
    # level 2 merges to the final deterministic cap-row sample.
    row = F.struct("cand", "p", "norm_o")
    local = (
        hot.groupBy("tok", F.spark_partition_id().alias("part"))
        .agg(F.slice(F.sort_array(F.collect_list(row)), 1, cap).alias("top"))
        .select("tok", F.explode("top").alias("t"))
    )
    capped = (
        local.groupBy("tok")
        .agg(
            F.slice(F.sort_array(F.collect_list("t")), 1, cap).alias("top")
        )
        .select("tok", F.explode("top").alias("t"))
        .select(
            F.col("t.cand").alias("cand"),
            F.col("t.p").alias("p"),
            F.col("t.norm_o").alias("norm_o"),
            "tok",
        )
    )
    return cold.unionByName(capped)


def search_index(
    index_raw: DataFrame,
    index_all: DataFrame,
    search_preds: list[str] | None,
) -> DataFrame:
    """The main-retrieval index: `index_raw` (the uncapped index)
    restricted to the learned `search_preds`, or `index_all` (its
    capped any-predicate form) when nothing was learned.

    The restriction is a predicate filter over `index_raw` instead of a
    second full build — it saves a target scan and the explode+distinct
    shuffle. The hot-token cap is RE-APPLIED on the restricted frame (one
    cheap aggregation): a token hot on the any-predicate index but cold
    under the searched predicates keeps its full (small) fan-out, and
    the capped sample is always drawn from rows that survive the
    predicate filter — never pre-filter rows that the restriction would
    then discard."""
    if not search_preds:
        return index_all
    restricted = index_raw.filter(F.col("p").isin(search_preds))
    if index_all is index_raw:
        # the any-predicate pass found NO hot token (it returns its
        # input unchanged then, hence the identity check), and a
        # predicate-restricted subset can only have SMALLER per-token
        # fan-outs — skip the second scan job
        return restricted
    return apply_hot_token_cap(restricted)


# ---------------------------------------------------------------------------
# cascade steps shared by every tier: tier tagging and first-hit selection
# ---------------------------------------------------------------------------


def tag_tiers(
    hits: DataFrame, tier_of_pred: dict[str, int] | None
) -> DataFrame:
    """`hits` with column `tier`, its predicate `p`'s cascade priority;
    hits on predicates the cascade does not search are dropped.
    tier_of_pred None is the any-predicate warm-up ('?p'): every hit is
    tier 0."""
    if tier_of_pred is None:
        return hits.withColumn("tier", F.lit(0))
    return hits.withColumn("tier", lit_map(tier_of_pred)[F.col("p")]).filter(
        F.col("tier").isNotNull()
    )


def first_hits(df: DataFrame, key: list[str], priority: list) -> DataFrame:
    """Rows of `df` whose priority columns equal, in order, their
    minimum over `key` (ties kept). Each priority is a column name or a
    (name, Column) pair for a derived value. Several priorities take
    one min over their struct (lexicographic order); a single one takes
    a plain min, which Spark hash-aggregates — a struct min needs a
    sort-based aggregate."""
    prio = [(p, F.col(p)) if isinstance(p, str) else p for p in priority]
    single = len(prio) == 1
    packed = prio[0][1] if single else F.struct(*[c.alias(n) for n, c in prio])
    best = df.groupBy(*key).agg(F.min(packed).alias("b"))
    at_min = [c == F.col("b" if single else f"b.{n}") for n, c in prio]
    return df.join(best, key).filter(functools.reduce(operator.and_, at_min))


# ---------------------------------------------------------------------------
# tier-1 phrase search (J2)
# ---------------------------------------------------------------------------


def phrase_hits(
    keywords: DataFrame,
    index: DataFrame,
    tier_of_pred: dict[str, int] | None,
) -> DataFrame:
    """(s, rank, chunk_id, label_idx, kw, tier, cand) — phrase matches,
    tiered by `tag_tiers(_, tier_of_pred)`."""
    tok_freq = index.groupBy("tok").agg(F.count("*").alias("tok_freq"))
    ks = keywords.filter("searchable").withColumn(
        "tok", F.explode(F.array_distinct(norm_tokens("kw_norm")))
    )
    ks = ks.join(tok_freq, "tok")  # inner: a missing token -> no phrase hit
    w = (
        ks.groupBy("s", "rank", "chunk_id", "label_idx", "kw", "kw_norm")
        .agg(
            F.min(F.struct(F.col("tok_freq"), F.col("tok"))).alias("rare")
        )
        .select(
            "s", "rank", "chunk_id", "label_idx", "kw", "kw_norm",
            F.col("rare.tok").alias("tok"),
        )
    )
    hits = (
        w.join(index, "tok")
        .filter(
            F.instr(
                F.concat(F.lit(" "), F.col("norm_o"), F.lit(" ")),
                F.concat(F.lit(" "), F.col("kw_norm"), F.lit(" ")),
            )
            > 0
        )
        .filter(F.col("kw_norm") != "")
    )
    return tag_tiers(hits, tier_of_pred).select(
        "s", "rank", "chunk_id", "label_idx", "kw", "tier", "cand"
    ).distinct()


# ---------------------------------------------------------------------------
# tier-2 AND search (J3) for keywords without a passing tier-1 hit
# ---------------------------------------------------------------------------


def and_hits(
    failed_keywords: DataFrame,
    index: DataFrame,
    tier_of_pred: dict[str, int] | None,
    stopwords: tuple[str, ...],
) -> DataFrame:
    """(s, rank, chunk_id, label_idx, kw, variant, prefix_len, tier, cand).

    variant 'and' = trailing-token-drop prefixes (len>=2, longest
    wins); variant 'nsw' = full token set minus stopwords (len>=2).
    A hit requires every prefix token in the SAME target literal.
    """
    toks = failed_keywords.withColumn("toks", norm_tokens("kw_norm"))
    n = F.size("toks")
    # 'and' prefixes: L = n, n-1, ..., 2 (search_module.rb:134-147)
    prefixes = (
        toks.filter(n >= 2)
        .withColumn("prefix_len", F.explode(F.sequence(F.lit(2), n)))
        .withColumn("ptoks", F.array_distinct(F.slice("toks", 1, F.col("prefix_len"))))
        .withColumn("variant", F.lit("and"))
    )
    sw_arr = F.array([F.lit(x) for x in stopwords]) if stopwords else F.array().cast("array<string>")
    nsw = (
        toks.withColumn("ptoks", F.array_distinct(F.array_except("toks", sw_arr)))
        .filter(F.size("ptoks") >= 2)
        .withColumn("prefix_len", F.size("ptoks"))
        .withColumn("variant", F.lit("nsw"))
    )
    allpre = prefixes.unionByName(nsw, allowMissingColumns=True).withColumn(
        "n_req", F.size("ptoks")
    )
    exploded = allpre.select(
        "s", "rank", "chunk_id", "label_idx", "kw", "variant", "prefix_len",
        "n_req", F.explode("ptoks").alias("tok"),
    )
    joined = exploded.join(index, "tok")
    grouped = (
        joined.groupBy(
            "s", "rank", "chunk_id", "label_idx", "kw", "variant",
            "prefix_len", "n_req", "cand", "p", "norm_o",
        )
        .agg(F.countDistinct("tok").alias("n_hit"))
        .filter(F.col("n_hit") == F.col("n_req"))
    )
    return tag_tiers(grouped, tier_of_pred).select(
        "s", "rank", "chunk_id", "label_idx", "kw", "variant",
        "prefix_len", "tier", "cand",
    ).distinct()


# ---------------------------------------------------------------------------
# tier-3 word-by-word search (J4) for keywords without a tier-1/2 hit
# ---------------------------------------------------------------------------


def word_hits(
    failed_keywords: DataFrame,
    index: DataFrame,
    tier_of_pred: dict[str, int] | None,
    stopwords: tuple[str, ...],
) -> DataFrame:
    """(s, rank, chunk_id, label_idx, kw, word_pos, tier, cand) — J4.

    DEAD CODE in the reference: `$word_by_word` is never set
    (search_module.rb:97), so word_by_word_search
    (search_module.rb:172-198) never runs; this implements its INTENDED
    semantics behind the opt-in ``cfg.word_by_word`` flag, closing the
    one §2 row without an implementation. For keywords that failed
    tiers 1-2, each token searches ALONE (in keyword order, skipping
    stopwords and tokens shorter than 3 chars — the reference's
    `next if` guards)."""
    toks = failed_keywords.select(
        "s", "rank", "chunk_id", "label_idx", "kw",
        F.posexplode(norm_tokens("kw_norm")).alias("word_pos", "tok"),
    ).filter(F.length("tok") >= 3)
    if stopwords:
        toks = toks.filter(~F.col("tok").isin(list(stopwords)))
    hits = toks.join(index, "tok")
    return tag_tiers(hits, tier_of_pred).select(
        "s", "rank", "chunk_id", "label_idx", "kw", "word_pos", "tier",
        "cand",
    ).distinct()


# ---------------------------------------------------------------------------
# F11 — candidate-group similarity filter
# ---------------------------------------------------------------------------


def f11_passing(
    hits: DataFrame,
    lits: DataFrame,
    textp: list[str] | None,
    stopwords: tuple[str, ...],
    cfg: SerimiConfig,
) -> DataFrame:
    """The rows of `hits` whose (kw, cand) has a literal o in `lits`
    (the `target_literals` view their index came from) with
    advanced_string_matching(kw, o) > threshold; the columns are the
    hit columns. Each distinct (kw, cand) inner-joins the view, which
    restricts it to hit candidates. Literals under a `textp` predicate
    are skipped; when textp is unknown (warm-up, None) the prune
    len(o) <= 3*len(kw) applies instead (search_module.rb:247-249).
    Scores are computed once per DISTINCT (kw, literal) pair.
    """
    desc = lits.select(
        "cand", F.col("p").alias("desc_p"), F.col("o").alias("lit")
    )
    if textp:
        desc = desc.filter(~F.col("desc_p").isin(list(textp)))
    pairs = hits.select("kw", "cand").distinct().join(desc, "cand")
    if textp is None:
        pairs = pairs.filter(F.length("lit") <= 3 * F.length("kw"))
    # boolean short-circuit kernel: F11 consumes only the decision, so
    # the jaccard lower bound / soundex upper bound skip the full
    # ensemble for most pairs (see kernels.asm_passes)
    scored_pairs = (
        pairs.select("kw", "lit")
        .distinct()
        .withColumn(
            "ok",
            asm_passes_udf(stopwords, cfg.string_threshold)(
                F.col("kw"), F.col("lit")
            ),
        )
        .filter(F.col("ok"))
        .select("kw", "lit")
    )
    passing = pairs.join(scored_pairs, ["kw", "lit"], "left_semi")
    return hits.join(passing, ["kw", "cand"], "left_semi")


# ---------------------------------------------------------------------------
# cascade selection
# ---------------------------------------------------------------------------


@dataclass
class CandidateResult:
    pairs: DataFrame      # (chunk_id, rank, s, cand)
    searched: DataFrame   # (chunk_id, rank, s, kw) — winning label property
    # passing frames of the tiers that ran, in tier order, kept for the
    # sequential-mode promotion fold (search_module.rb:107-108 — the
    # tier that found each keyword decides the next chunk's cascade
    # order)
    passing: list[DataFrame] = field(default_factory=list)


def select_candidates(
    keywords: DataFrame,
    passing_t1: DataFrame,
    passing_t2: DataFrame | None = None,
    passing_t3: DataFrame | None = None,
) -> CandidateResult:
    """Reference cascade as first-hit (min-priority) selections per
    keyword:

    * tier 1 wins at the lowest predicate tier with a passing candidate
      (search_module.rb:91);
    * tier-2 'and' wins at (lowest tier, longest prefix); the 'nsw'
      variant adds its own lowest tier (b + c union,
      search_module.rb:167);
    * tier-3 word-by-word (J4, opt-in) wins at the first
      (word_pos, tier) with a passing candidate — the first passing
      token, then its first passing predicate;
    * per source, the first label property (label_idx) with any
      candidate wins (serimi_module.rb:151-170); its keywords become
      the searched labels.
    """
    kw_key = ["s", "rank", "chunk_id", "label_idx", "kw"]

    def first(df: DataFrame, *priority) -> DataFrame:
        return first_hits(df, kw_key, list(priority)).select(*kw_key, "cand")

    sels = [first(passing_t1, "tier")]
    if passing_t2 is not None:
        variant = F.col("variant")
        sels.append(
            first(
                passing_t2.filter(variant == "and"),
                "tier",
                ("npl", -F.col("prefix_len")),
            )
        )
        sels.append(first(passing_t2.filter(variant == "nsw"), "tier"))
    if passing_t3 is not None:
        sels.append(first(passing_t3, "word_pos", "tier"))
    all_sel = functools.reduce(DataFrame.unionByName, sels).distinct()

    # label-property cascade per source
    src_key = ["s", "rank", "chunk_id"]
    best_label = all_sel.groupBy(*src_key).agg(
        F.min("label_idx").alias("best_label")
    )
    final_pairs = (
        all_sel.join(best_label, src_key)
        .filter(F.col("label_idx") == F.col("best_label"))
        .select("chunk_id", "rank", "s", "cand")
        .distinct()
    )
    searched = (
        keywords.join(best_label, src_key)
        .filter(F.col("label_idx") == F.col("best_label"))
        .select("chunk_id", "rank", "s", "kw")
        .distinct()
    )
    return CandidateResult(pairs=final_pairs, searched=searched)
