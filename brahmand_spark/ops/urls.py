"""URL / domain curation — the FRONT DOOR of a web-corpus pipeline
(the stages CCNet/C4/RefinedWeb run before any text ever gets
tokenized): URL normalization, host + registered-domain extraction,
URL-exact dedup, domain block/allow filtering, and per-domain
document caps. Everything downstream in this repo (minhash, quality,
semdedup) assumed these existed; VERDICT r5 flagged the gap.

Design rules, same as the rest of ops/:

- **Pure JVM expressions** for parsing/normalization (regexp +
  higher-order array functions — codegen'd, zero Python), so the
  whole stage is one narrow projection over the corpus scan and the
  DuckDB oracle replays it exactly.
- **Public-suffix matching as a broadcast join**: the suffix table
  (built-in common list by default, caller-supplied full PSL at
  scale) broadcasts; three left broadcast-hash joins try the
  3-, 2-, then 1-label suffix — zero shuffles.
- **Per-domain caps never window by the domain alone**: a hot domain
  (pinterest.com at web scale) would serialize into one task. The
  cap uses the same salted sub-bucket rank composition as
  ops/walks.ranked_adjacency — rank within (domain, hash bucket),
  compose global ranks from per-bucket prefix sums (≤ n_buckets
  rows per domain in that window), filter on the composed rank.
- **Deterministic everywhere**: kept rows are a pure function of the
  data (hash order / id order), never ``rand()`` — retries,
  partitioning, and engine replays agree.

Normalization spec (documented so oracles can replay it):
scheme and host lowercased; userinfo stripped; default ports
(:80 http, :443 https) stripped; ONE leading ``www.`` stripped;
fragment dropped; trailing slashes trimmed from the path; tracking
parameters (``utm_*``, gclid, fbclid, msclkid, igshid, mc_eid)
removed from the query with the remaining parameter order preserved.
The strip set contains only unambiguous click-attribution params —
generic names like ``ref`` select content on many sites (``?ref=
<branch>``) and merging them would silently drop distinct documents
(ADVICE r6); pass ``tracking_re=TRACKING_PARAM_RE_WITH_REF`` (or any
custom anchored regex) to opt in. Unparseable URLs (no ``scheme://``
or empty host) normalize to NULL so callers can quarantine them
explicitly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..io import local_frame

# Query parameters that exist for click attribution, not content
# identity — the standard strip set (C4/CCNet drop them the same way).
# Deliberately EXCLUDES generic names ('ref', 'source', ...) that
# double as content selectors on real sites; opt in via tracking_re.
TRACKING_PARAM_RE = (
    "^(utm_[A-Za-z0-9_]*|gclid|fbclid|msclkid|igshid|mc_eid)="
)
# Opt-in variant that also strips 'ref' (the pre-r7 default) for
# corpora where it is known to be attribution-only.
TRACKING_PARAM_RE_WITH_REF = (
    "^(utm_[A-Za-z0-9_]*|gclid|fbclid|msclkid|igshid|mc_eid|ref)="
)

# Built-in common public suffixes (multi-label first). NOT the full
# Mozilla PSL — at production scale load the real list with
# ``public_suffix_table(spark, suffixes=[...])``; the matching logic
# is identical, only the broadcast table grows (~9k rows, still
# trivially broadcastable).
COMMON_SUFFIXES = [
    "co.uk", "org.uk", "ac.uk", "gov.uk", "com.au", "net.au",
    "org.au", "co.jp", "ne.jp", "or.jp", "com.br", "com.cn",
    "com.mx", "co.in", "co.kr", "com.tr", "com.sg", "co.nz",
    "com.ar", "co.za",
    "com", "org", "net", "edu", "gov", "mil", "int", "io", "co",
    "ai", "dev", "app", "info", "biz", "xyz", "uk", "au", "jp",
    "br", "cn", "mx", "in", "kr", "tr", "sg", "nz", "ar", "za",
    "de", "fr", "it", "nl", "es", "se", "no", "fi", "pl", "ru",
    "ca", "ch", "at", "be", "dk", "cz", "us", "eu",
]

_SCHEME_RE = "^([A-Za-z][A-Za-z0-9+.-]*)://"
_REST_RE = "^[A-Za-z][A-Za-z0-9+.-]*://(.*)$"


def _nofrag(url: Column) -> Column:
    return F.regexp_replace(
        F.regexp_extract(F.trim(url), _REST_RE, 1), "#.*$", "")


def url_scheme(url: Column) -> Column:
    """Lowercased scheme, '' when the value is not a ``scheme://``
    URL."""
    return F.lower(F.regexp_extract(F.trim(url), _SCHEME_RE, 1))


def url_host(url: Column) -> Column:
    """Lowercased host: authority minus userinfo and port. '' for
    unparseable input."""
    return F.lower(F.regexp_replace(_hostport(url), ":[0-9]*$", ""))


def _hostport(url: Column) -> Column:
    """Lowercased host[:port], userinfo stripped."""
    auth = F.regexp_extract(_nofrag(url), "^([^/?#]*)", 1)
    return F.lower(F.regexp_replace(auth, "^[^@]*@", ""))


def url_path(url: Column) -> Column:
    """Path with trailing slashes trimmed ('' for the root)."""
    path = F.regexp_extract(_nofrag(url), "^[^/?#]*([^?#]*)", 1)
    return F.regexp_replace(path, "/+$", "")


def url_query_clean(url: Column, tracking_re: str | None = None) -> Column:
    """Query string with tracking parameters removed, remaining
    parameter order preserved; '' when nothing survives.
    ``tracking_re`` overrides the default strip regex (e.g.
    ``TRACKING_PARAM_RE_WITH_REF`` to also strip ``ref``)."""
    q = F.regexp_extract(_nofrag(url), r"\?([^#]*)", 1)
    kept = F.filter(
        F.split(q, "&"),
        lambda p: (p != "") & ~p.rlike(tracking_re or TRACKING_PARAM_RE),
    )
    return F.array_join(kept, "&")


def normalize_url(url: Column, tracking_re: str | None = None) -> Column:
    """The full normalized URL (see module docstring for the spec);
    NULL when the input has no scheme or an empty host. One composed
    JVM expression — usable inside any projection. ``tracking_re``
    overrides the tracking-parameter strip set."""
    scheme = url_scheme(url)
    hp = _hostport(url)
    # only the scheme's DEFAULT port is dropped — a non-default port
    # is part of the resource identity
    hp = (F.when(scheme == "http", F.regexp_replace(hp, ":80$", ""))
          .when(scheme == "https", F.regexp_replace(hp, ":443$", ""))
          .otherwise(hp))
    hp = F.regexp_replace(hp, r"^www\.", "")
    host = F.regexp_replace(url_host(url), r"^www\.", "")
    qn = url_query_clean(url, tracking_re)
    norm = F.concat(
        scheme, F.lit("://"), hp, url_path(url),
        F.when(qn == "", F.lit("")).otherwise(F.concat(F.lit("?"), qn)),
    )
    return F.when((scheme != "") & (host != ""), norm)


def url_is_valid(url: Column) -> Column:
    """Cheap equivalent of ``normalize_url(url).isNotNull()`` —
    exactly normalize_url's own validity condition (non-empty scheme
    and non-empty www-stripped host) WITHOUT the full normalization
    expression. Filters built on this push a two-regex-chain
    predicate to the scan instead of inlining the entire ~25-step
    normalization chain into the scan filter (which then re-runs per
    row on top of the projection's copy — guide §7.2 duplicated
    subtrees)."""
    return (url_scheme(url) != "") & (
        F.regexp_replace(url_host(url), r"^www\.", "") != "")


# Above this many (deduplicated) suffixes the registered-domain
# lookup falls back to broadcast joins: a literal map of the full
# Mozilla PSL (~9k entries) would bloat every plan that embeds it,
# while the common curated lists (tens to hundreds of entries) are
# far cheaper as ONE in-expression map lookup than as three
# broadcast-hash-join builds (guide §2.4 — remove joins outright).
_SUFFIX_MAP_MAX = 1024


def public_suffix_table(spark, suffixes: list[str] | None = None):
    """(suffix, n_labels) DataFrame for registered-domain matching —
    broadcast-sized (the full Mozilla PSL is ~9k rows). Pass the real
    PSL at production scale; the default covers the common TLDs.
    Duplicate entries in a caller-supplied list are collapsed (order
    preserved) — they would otherwise fan out rows through the
    left broadcast joins in with_url_parts (ADVICE r6)."""
    sfx = suffixes if suffixes is not None else COMMON_SUFFIXES
    rows = [(s, s.count(".") + 1) for s in dict.fromkeys(sfx)]
    return local_frame(spark, rows, "suffix string, n_labels int")


def _suffix_map_expr(suffixes: list[str]) -> Column:
    """The suffix list as ONE parsed literal ``map<string,int>``
    (suffix -> label count): a lookup beats a broadcast join for
    list-sized tables — zero join nodes, zero broadcast builds, and
    the whole registered-domain derivation stays inside one
    projection. Built as a single SQL string parsed by one F.expr
    call (the _cents_lit device — avoids 2×N py4j Column calls)."""
    pairs = []
    for s in dict.fromkeys(suffixes):
        esc = s.replace("\\", "\\\\").replace("'", "\\'")
        pairs.append(f"'{esc}', {s.count('.') + 1}")
    return F.expr(f"map({', '.join(pairs)})")


def with_url_parts(
    df: DataFrame, url_col: str = "url",
    suffixes: list[str] | None = None,
    tracking_re: str | None = None,
) -> DataFrame:
    """Add ``url_norm``, ``host``, and ``registered_domain`` columns.

    Registered domain = one label + the LONGEST matching public
    suffix (eTLD+1); hosts that are themselves a public suffix (or
    match nothing) fall back to the full host. For list-sized suffix
    sets (<= _SUFFIX_MAP_MAX after dedup — every curated list) the
    3-/2-/1-label candidates probe ONE literal suffix->n_labels map
    inside the projection: no joins, no broadcast builds, no UDF.
    Larger sets (the full PSL) keep the three LEFT broadcast-hash
    joins — same results, the threshold is a plan-size/perf knob
    only (a k-label candidate matches the filtered k-label join
    table exactly when the map holds it with value k)."""
    spark = df.sparkSession
    url = F.col(url_col)
    host = F.regexp_replace(url_host(url), r"^www\.", "")
    out = df.withColumn("url_norm", normalize_url(url, tracking_re)) \
        .withColumn("host", F.when(host != "", host)) \
        .withColumn("_labels", F.split(F.col("host"), r"\."))
    n = F.size("_labels")

    def cand(k: int) -> Column:
        return F.when(
            n >= k, F.array_join(F.slice("_labels", n - k + 1, k), "."))

    sfx_list = list(dict.fromkeys(
        suffixes if suffixes is not None else COMMON_SUFFIXES))
    if len(sfx_list) <= _SUFFIX_MAP_MAX:
        smap = _suffix_map_expr(sfx_list)
        matched = {
            k: F.try_element_at(smap, cand(k)) == F.lit(k)
            for k in (3, 2, 1)
        }
    else:
        suf = public_suffix_table(spark, sfx_list)
        for k in (3, 2, 1):
            sk = F.broadcast(
                suf.filter(F.col("n_labels") == k)
                .select(F.col("suffix").alias(f"_sfx{k}")))
            out = out.withColumn(f"_cand{k}", cand(k))
            out = out.join(
                sk, F.col(f"_cand{k}") == F.col(f"_sfx{k}"), "left")
        matched = {k: F.col(f"_sfx{k}").isNotNull() for k in (3, 2, 1)}
    reg = (
        F.when(matched[3] & (n > 3),
               F.array_join(F.slice("_labels", n - 3, 4), "."))
        .when(matched[2] & (n > 2),
              F.array_join(F.slice("_labels", n - 2, 3), "."))
        .when(matched[1] & (n > 1),
              F.array_join(F.slice("_labels", n - 1, 2), "."))
        .otherwise(F.col("host"))
    )
    out = out.withColumn("registered_domain", reg)
    drop = ["_labels"]
    if len(sfx_list) > _SUFFIX_MAP_MAX:
        drop += ["_cand3", "_cand2", "_cand1", "_sfx3", "_sfx2", "_sfx1"]
    return out.drop(*drop)


def url_exact_dedup(
    df: DataFrame, url_col: str = "url", id_col: str = "doc_id",
    keep_invalid: bool = False, norm_col: str | None = None,
) -> DataFrame:
    """One row per NORMALIZED URL — the smallest ``id_col`` wins
    (deterministic under any partitioning). Rows whose URL fails to
    normalize are dropped by default (``keep_invalid=True`` passes
    them all through untouched — they have no identity to dedup on).
    Pass ``norm_col`` to reuse an already-computed normalization of
    ``url_col`` (e.g. with_url_parts' ``url_norm``) instead of paying
    the regexp chain a second time; ``url_col`` must still name the
    source column (the validity pre-filter reads it).

    Shape (r15, guide §2.5 — skew): ONE ``min_by(struct(row), id)``
    aggregate keyed by the normalized URL. Like the r14 min-window
    this is a single full-row exchange (vs the r13 min-aggregate +
    semi-join-back, which re-shuffled the corpus to re-attach the
    keep set), but unlike the window it gets MAP-SIDE PARTIAL
    AGGREGATION: a hot key (millions of identical rows of one viral
    URL — the exact workload URL dedup targets) collapses to one
    candidate row per map task before the exchange, instead of
    serializing the whole cluster into one window partition/task.
    The validity pre-filter uses ``url_is_valid`` — equivalent to
    ``url_norm IS NOT NULL`` but ~10x smaller as a pushed-down scan
    predicate (the filter otherwise inlines the ENTIRE normalization
    expression above the scan and the projection recomputes it —
    guide §7.2). It also keeps NULL keys out of the aggregate.

    Tie semantics: ``id_col`` is assumed unique (a duplicated id on
    the same normalized URL previously yielded every tied row; the
    aggregate keeps exactly one, which is what "one row per
    normalized URL" documents)."""
    if norm_col is not None:
        withn = df.withColumn("_un", F.col(norm_col))
    else:
        withn = df.withColumn("_un", normalize_url(F.col(url_col)))
    ok = F.coalesce(url_is_valid(F.col(url_col)), F.lit(False))
    valid = withn.filter(ok)
    cols = df.columns
    kept = (
        # null ids could never win the old id == min(id) filter; keep
        # them out so an all-null-id group can't emit a null row
        valid.filter(F.col(id_col).isNotNull())
        .groupBy("_un")
        .agg(F.min_by(
            F.struct(*[F.col(c) for c in cols]), F.col(id_col)
        ).alias("_row"))
        .select(*[F.col("_row").getField(c).alias(c) for c in cols])
    )
    if keep_invalid:
        return kept.unionByName(withn.filter(~ok).drop("_un"))
    return kept


def filter_domains(
    df: DataFrame, blocklist: list[str] | None = None,
    allowlist: list[str] | None = None,
    domain_col: str = "registered_domain",
) -> DataFrame:
    """Block/allow filtering on the registered domain via broadcast
    anti/semi joins (list-sized tables — spam/porn blocklists run
    100k+ entries, still broadcastable; an IN-literal of that size
    would bloat the plan)."""
    spark = df.sparkSession
    out = df
    if blocklist is not None:
        bl = F.broadcast(local_frame(
            spark,
            [(d,) for d in blocklist], f"{domain_col} string"))
        out = out.join(bl, domain_col, "left_anti")
    if allowlist is not None:
        al = F.broadcast(local_frame(
            spark,
            [(d,) for d in allowlist], f"{domain_col} string"))
        out = out.join(al, domain_col, "leftsemi")
    return out


def cap_per_domain(
    df: DataFrame, max_docs: int,
    domain_col: str = "registered_domain", id_col: str = "doc_id",
    n_buckets: int = 32,
) -> DataFrame:
    """Keep at most ``max_docs`` documents per domain, chosen by
    md5-hash order of the id — a deterministic uniform sample of the
    domain's documents (no ``rand()``: retries and repartitioning
    keep the same rows).

    Never ranks the UNBOUNDED data by the domain alone: documents
    first rank within (domain, hash-bucket) sub-windows — the
    ops/walks.ranked_adjacency treatment, so a hot domain's rows sort
    across ``n_buckets`` tasks — and only rows with a local rank
    below ``max_docs`` survive to the final per-domain window, whose
    partitions are therefore BOUNDED at ``n_buckets * max_docs`` rows
    no matter how hot the domain. Two exchanges total, no join; the
    kept set is the first ``max_docs`` rows in (bucket, hash, id)
    order, identical to a global-window formulation."""
    if max_docs < 1:
        raise ValueError("max_docs must be >= 1")
    from .text import md5_hash60

    h = md5_hash60(F.concat(F.lit("cap:"),
                            F.col(id_col).cast("string")))
    loc = df.withColumn("_h", h).withColumn(
        "_bkt", F.pmod(F.col("_h"), F.lit(n_buckets)))
    wloc = Window.partitionBy(domain_col, "_bkt").orderBy(
        "_h", id_col)
    loc = loc.withColumn("_lr", F.row_number().over(wloc) - 1) \
        .filter(F.col("_lr") < max_docs)
    wdom = Window.partitionBy(domain_col).orderBy(
        "_bkt", "_h", id_col)
    return (
        loc.withColumn("_gr", F.row_number().over(wdom))
        .filter(F.col("_gr") <= max_docs)
        .drop("_h", "_bkt", "_lr", "_gr")
    )


def curate_urls(
    df: DataFrame, url_col: str = "url", id_col: str = "doc_id",
    blocklist: list[str] | None = None,
    allowlist: list[str] | None = None,
    max_docs_per_domain: int | None = None,
    suffixes: list[str] | None = None,
    tracking_re: str | None = None,
) -> DataFrame:
    """The composed URL front door: parse/normalize -> URL-exact
    dedup -> domain block/allow filter -> per-domain cap. Returns the
    surviving rows with ``url_norm``/``host``/``registered_domain``
    attached for downstream stages."""
    out = with_url_parts(df, url_col, suffixes=suffixes,
                         tracking_re=tracking_re)
    out = url_exact_dedup(out, url_col, id_col, norm_col="url_norm")
    out = filter_domains(out, blocklist, allowlist)
    if max_docs_per_domain is not None:
        out = cap_per_domain(out, max_docs_per_domain, id_col=id_col)
    return out
