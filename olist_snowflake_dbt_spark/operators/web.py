"""Web-corpus curation: URL canonicalization + host-level rollups.

Crawl-scale corpora (C4, RefinedWeb, FineWeb) dedup and filter BY URL
before touching any text: the same page is fetched under scheme/www/
tracking-param/fragment variants, and host-level statistics drive
blocklists and per-domain caps. The reference has none of this
(SURVEY.md §2.C); the north-star extension set calls for it.

Everything here is PURE CATALYST string/array expressions — no UDF, no
regex backtracking (only anchored LIKE prefixes and fixed-separator
splits), so canonicalization runs inside whole-stage codegen and an
oracle engine can replay it token-for-token. At 100 TB the operator is
a map-only projection (zero shuffle); the host rollup is one hash
aggregate on the canonical host — the natural partitioning key for
per-domain caps downstream.

Canonical form (documented contract, in order):
1. strip scheme (``://`` split) and ``#fragment``;
2. split ``?query`` off the path;
3. host = lowercased authority up to the first ``/``; a single leading
   ``www.`` label is dropped;
4. tracking params removed (``utm_*``, ``fbclid``, ``gclid``), the
   REST SORTED lexicographically (order never carries meaning for
   dedup identity) and re-joined;
5. one trailing ``/`` stripped from a non-root path.

``domain`` is the last two host labels — a deliberate approximation of
the registrable domain (a Public-Suffix-List lookup is a broadcast-dim
join away and out of scope; documented, not hidden).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from ..functions.local_frame import arrow_local_df

_TRACKING_PREFIXES = ("utm_", "fbclid=", "gclid=")


def canonicalize_url(url: Column | str) -> Column:
    """Return a struct column ``(canonical, host, domain, path, params)``
    per the module-header contract. NULL-safe: a NULL url yields a
    struct of NULLs (struct itself non-null, so downstream group keys
    stay well-defined)."""
    u = F.col(url) if isinstance(url, str) else url
    # 1. scheme + fragment
    no_scheme = F.when(
        u.contains("://"), F.element_at(F.split(u, "://", 2), 2)
    ).otherwise(u)
    no_frag = F.element_at(F.split(no_scheme, "#", 2), 1)
    # 2. query split
    base = F.element_at(F.split(no_frag, r"\?", 2), 1)
    query = F.when(
        no_frag.contains("?"), F.element_at(F.split(no_frag, r"\?", 2), 2)
    ).otherwise(F.lit(""))
    # 3. host / path
    slash = F.instr(base, "/")
    host_raw = F.lower(
        F.when(slash > 0, F.substring(base, F.lit(1), slash - 1)).otherwise(base)
    )
    host = F.when(
        host_raw.startswith("www."), host_raw.substr(F.lit(5), F.length(host_raw))
    ).otherwise(host_raw)
    path_raw = F.when(slash > 0, base.substr(slash, F.length(base))).otherwise(
        F.lit("")
    )
    # 4. params: drop tracking, sort the rest
    import functools
    import operator as _op

    parts = F.split(query, "&")

    def _keep(p: Column) -> Column:
        is_tracking = functools.reduce(
            _op.or_, [p.startswith(pref) for pref in _TRACKING_PREFIXES]
        )
        return (F.length(p) > 0) & ~is_tracking

    kept = F.filter(parts, _keep)
    params = F.array_join(F.array_sort(kept), "&")
    # 5. trailing slash on a non-root path
    path = F.when(
        (F.length(path_raw) > 1) & path_raw.endswith("/"),
        path_raw.substr(F.lit(1), F.length(path_raw) - 1),
    ).otherwise(path_raw)
    canonical = F.concat(
        host, path, F.when(F.length(params) > 0, F.concat(F.lit("?"), params)).otherwise(F.lit(""))
    )
    labels = F.split(host, r"\.")
    domain = F.when(
        F.size(labels) >= 2,
        F.concat(
            F.element_at(labels, -2), F.lit("."), F.element_at(labels, -1)
        ),
    ).otherwise(host)
    return F.struct(
        canonical.alias("canonical"),
        host.alias("host"),
        domain.alias("domain"),
        path.alias("path"),
        params.alias("params"),
    )


def host_url_stats(
    df: DataFrame, url_col: str = "url", exact: bool = True
) -> DataFrame:
    """Host-level URL rollup: per (host, domain) — page count, distinct
    canonical URLs (the URL-dedup denominator), and the lexicographic
    min canonical as a stable exemplar. One map-side canonicalization +
    TWO exchanges measured (`.explain`): the COUNT(DISTINCT canonical)
    denominator pays the standard distinct-Expand second pass on top of
    the host aggregate — inherent to an exact distinct count; swap in
    approx_count_distinct to drop back to one. At crawl scale this IS
    the per-domain cap/blocklist input table, ~6 orders of magnitude
    smaller than the corpus."""
    c = canonicalize_url(url_col)
    ndv = (
        F.countDistinct("canonical")
        if exact
        # production path at crawl scale: HLL keeps the rollup to ONE
        # exchange (no distinct-Expand second pass); the denominator is
        # an estimate, which per-domain caps and blocklists tolerate
        else F.approx_count_distinct("canonical")
    )
    return (
        df.select(c.alias("u"))
        .select("u.host", "u.domain", "u.canonical")
        .groupBy("host", "domain")
        .agg(
            F.count(F.lit(1)).alias("n_urls"),
            ndv.alias("n_canonical"),
            F.min("canonical").alias("sample_canonical"),
        )
    )


# -- public-suffix registrable domain ---------------------------------

import os as _os

# Checked-in snapshot of the Public Suffix List (publicsuffix.org,
# public data) in the OFFICIAL .dat format — exact rules, `*.` wildcard
# rules, and `!` exception rules (resources/public_suffix_list.dat
# documents the curation; the build container is offline, so it is a
# hand-curated stable subset, and a verbatim download of the full
# ~9k-rule file drops in with zero code changes). Without it every
# co.uk site would pool into one "co.uk" domain and per-domain caps
# would throttle a whole country.
_PSL_SNAPSHOT = _os.path.join(
    _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))),
    "resources",
    "public_suffix_list.dat",
)


def load_psl_rules(path: str | None = None) -> tuple:
    """Parse an official-format PSL file into the raw rule strings
    (lowercased; comments/blank lines dropped, first whitespace token
    per line, both ICANN and PRIVATE sections — the standard parse per
    the publicsuffix.org wiki's format spec)."""
    rules = []
    with open(path or _PSL_SNAPSHOT, encoding="utf-8") as fh:
        for line in fh:
            line = line.strip()
            if not line or line.startswith("//"):
                continue
            rules.append(line.split()[0].lower())
    return tuple(rules)


#: raw snapshot rules ("co.uk", "*.ck", "!www.ck", ...) — one source of
#: truth for the operator dim AND the driver oracle's inline replay
PUBLIC_SUFFIXES = load_psl_rules()


def _classify_rules(raw_rules) -> list:
    """(suffix, n_labels, kind) triples from raw PSL rule strings.

    kind ∈ {'rule', 'wildcard', 'exception'}; wildcard rows store the
    FIXED TAIL after ``*.`` with its own label count (``*.ck`` →
    ('ck', 1, 'wildcard') — effective suffix width is n_labels + 1).
    Single-label EXACT rules are skipped: the implicit ``*`` fallback
    (suffix = last label) produces the identical registrable domain,
    so keeping them would only add a no-op broadcast join — same
    optimization the pre-snapshot subset documented. Single-label
    wildcard TAILS (``*.ck``) are of course kept."""
    out = set()
    for r in raw_rules:
        if r.startswith("!"):
            s = r[1:]
            out.add((s, s.count(".") + 1, "exception"))
        elif r.startswith("*."):
            s = r[2:]
            out.add((s, s.count(".") + 1, "wildcard"))
        elif "." in r:
            out.add((r, r.count(".") + 1, "rule"))
    return sorted(out)


def public_suffixes(spark, path: str | None = None) -> DataFrame:
    """The checked-in PSL snapshot as a broadcast-sized dim:
    (suffix, n_labels, kind)."""
    rules = _classify_rules(
        load_psl_rules(path) if path else PUBLIC_SUFFIXES
    )
    return arrow_local_df(
        spark, rules, "suffix string, n_labels int, kind string"
    )


def with_registrable_domain(
    df: DataFrame,
    host_col: str = "host",
    suffixes: DataFrame | None = None,
    out_col: str = "registrable_domain",
) -> DataFrame:
    """Append the PSL registrable domain (eTLD+1) of ``host_col`` via
    the FULL Public Suffix List algorithm (publicsuffix.org/list):
    exception rules win outright, then the longest matching rule
    (wildcard rules counting their ``*`` label), then the implicit
    ``*`` fallback (suffix = last label → registrable = last two).

    Rule semantics per kind (the loader stores wildcards by their
    fixed TAIL):

    - ``rule`` of width k: host tail(k) == suffix ⇒ registrable =
      tail(k+1) (needs a registrable label left of the suffix);
    - ``wildcard`` with tail t (``*.ck`` ⇒ tail 'ck', t=1): host
      tail(t) == tail AND ≥ t+2 labels ⇒ the effective suffix is
      t+1 labels wide, registrable = tail(t+2);
    - ``exception`` of width k (``!www.ck``): host tail(k) == suffix
      ⇒ the public suffix is the exception minus its leftmost label,
      so registrable = tail(k) itself — for ``a.www.ck`` AND for
      ``www.ck``, both ``www.ck``.

    Plan shape for 100 TB: one BROADCAST left join per (kind, width)
    present in the dim (widths are read off the dim at plan time —
    one driver round-trip over a broadcast-sized table, so 4-label PSL
    rules in a caller-supplied dim join correctly rather than being
    silently ignored), zero shuffle, zero UDF; priority is one
    coalesce (exceptions by width desc, then effective widths desc,
    then the fallback). Hosts are lowercased before splitting (DNS
    names are case-insensitive — ``A.Shop.CO.UK`` matches ``co.uk``),
    so ``out_col`` is always lowercase. The dim is deduplicated (a
    duplicate rule row would otherwise fan out every matching input
    row through the equality join). A host that IS a bare public
    suffix (no registrable label left) yields itself. Caller dims
    without a ``kind`` column are treated as all-exact (the pre-
    snapshot dim contract).
    """
    if suffixes is None:
        suffixes = public_suffixes(df.sparkSession)
    # The dim is broadcast-sized by contract (full PSL ≈ 9k rules), so
    # dedupe + width discovery happen in ONE driver round-trip over it —
    # a distributed dropDuplicates would put an Exchange into an
    # otherwise map-only plan for a table that fits in a driver page.
    has_kind = "kind" in suffixes.columns
    cols = ["suffix", "n_labels"] + (["kind"] if has_kind else [])
    triples = {
        (
            r["suffix"],
            r["n_labels"],
            r["kind"] if has_kind else "rule",
        )
        for r in suffixes.select(*cols).collect()
        if r["suffix"] is not None and r["n_labels"] is not None
    }
    by_kind: dict[str, dict[int, list[str]]] = {}
    for sfx, k, kind in triples:
        if kind == "rule" and k < 2:
            continue  # identical to the implicit fallback — no-op join
        by_kind.setdefault(kind, {}).setdefault(k, []).append(sfx)

    spark = df.sparkSession
    labels = F.split(F.lower(F.col(host_col)), r"\.")
    nl = F.size(labels)

    def tail(k: int) -> Column:
        return F.array_join(F.slice(labels, -k, k), ".")

    out = df
    tmp_cols: list[str] = []

    def join_width(kind: str, k: int, min_nl: int, col_name: str) -> None:
        nonlocal out
        dim = arrow_local_df(
            spark,
            [(s,) for s in sorted(by_kind[kind][k])],
            f"{col_name} string",
        )
        out = out.join(
            F.broadcast(dim),
            F.when(nl >= min_nl, tail(k)) == F.col(col_name),
            "left",
        )
        tmp_cols.append(col_name)

    exc_widths = sorted(by_kind.get("exception", {}), reverse=True)
    for k in exc_widths:
        join_width("exception", k, k, f"__exc{k}")
    rule_widths = sorted(by_kind.get("rule", {}), reverse=True)
    for k in rule_widths:
        join_width("rule", k, k + 1, f"__sfx{k}")
    wild_tails = sorted(by_kind.get("wildcard", {}), reverse=True)
    for t in wild_tails:
        join_width("wildcard", t, t + 2, f"__wc{t}")

    # priority: exceptions (width desc) > effective suffix width desc
    # (exact k ⇒ eff k; wildcard tail t ⇒ eff t+1) > implicit fallback
    branches: list[Column] = [
        F.when(F.col(f"__exc{k}").isNotNull(), tail(k)) for k in exc_widths
    ]
    eff: list[tuple[int, Column]] = [
        (k, F.when(F.col(f"__sfx{k}").isNotNull(), tail(k + 1)))
        for k in rule_widths
    ] + [
        (t + 1, F.when(F.col(f"__wc{t}").isNotNull(), tail(t + 2)))
        for t in wild_tails
    ]
    branches += [c for _, c in sorted(eff, key=lambda p: -p[0])]
    reg = F.coalesce(
        *branches,
        F.when(nl >= 2, tail(2)).otherwise(F.lower(F.col(host_col))),
    )
    return out.withColumn(out_col, reg).drop(*tmp_cols)


def cap_per_host(
    df: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    cap: int = 100,
    salt: str = "caphost",
    level: str = "host",
    suffixes: DataFrame | None = None,
    prefilter_factor: int | None = None,
    salt_buckets: int | str | None = None,
    auto_hot_threshold: int = 2_000_000,
) -> DataFrame:
    """Per-domain document cap (RefinedWeb/FineWeb recipe): keep at most
    ``cap`` documents per canonical HOST, selected by a deterministic
    salted-md5 rank — an unbiased per-host sample that is stable across
    partitionings and reruns (no RNG, no first-seen order dependence).

    Hot hosts are exactly the skew case — stated honestly: a window
    partition is a UNIT (AQE skew-split applies to joins, not windows),
    so a host holding 1% of the crawl serializes its rows through one
    rank task. The kept set is only ``cap`` rows, so the scale
    mitigation is the deterministic hash-threshold PREFILTER
    (``prefilter_factor``): per host, keep only rows whose uniform
    32-bit md5 prefix falls under ``factor · cap / |host|`` of the key
    space before the exact window — expected survivors ≈
    ``factor · cap`` per host whatever the host size, and because the
    window ranks by the SAME hash, the global top-``cap`` rows all
    survive any threshold ≥ their own prefix: the output is EXACTLY
    the unfiltered result whenever every host keeps ≥ cap survivors
    (Chernoff-certain at factor 8; the guarantee is checked, not
    assumed — an in-plan ``assert_true`` hard-fails the caller's
    action if any host's threshold-passer count falls below
    min(cap, |host|), and rows tied on the host's min hash prefix
    always survive, so no host can vanish from the check; at
    effective cap 1 the escape rows alone are provably exact). Rank
    order is ``(md5(salt‖canonical‖id), id)`` — total even when two
    docs share a canonical URL. Returns the input columns + ``host`` +
    ``host_rank`` for the survivors.

    ``salt_buckets`` (round 13) is the UNCONDITIONALLY-exact scale
    path — classic two-phase distributed top-k: stage 1 ranks within
    ``(host, xxhash64(id) % salt_buckets)`` so the hot host's rows
    sort in ``salt_buckets`` PARALLEL tasks instead of one, keeping
    ≤ cap per bucket (any global top-cap row has at most cap−1
    host-mates ranked below it, so it ranks ≤ cap in its own bucket —
    no row the final answer needs can be lost); stage 2 re-ranks the
    ≤ ``salt_buckets · cap`` survivors per host exactly. One scan,
    one full shuffle (same bytes as the plain window — but hashed on
    (host, bucket), so no partition exceeds ~|hottest host| /
    salt_buckets), a second exchange of only survivor rows, no
    verification needed because nothing is probabilistic.

    ``salt_buckets="auto"`` (round 14) makes the choice measured
    instead of guessed: a :func:`..skew.key_skew_stats` pre-flight
    (one map-side-combined host census + top-1 — a bounded 1-row
    collect, the same plannable-skew discipline as
    join_strategy_advisor) reads the hottest host's row count; at or
    under ``auto_hot_threshold`` the plain window wins (the
    scale_bench --lane zipf crossover: plain won at 1M hot rows,
    two-phase won 11.54 s vs 28.59 s at 10M — threshold 2M sits
    between the measured points) and above it the two-phase path runs
    with ``max(8, min(1024, hot_rows div 250_000))`` buckets
    (~250k-row bucket sorts, the measured-good task size). All three
    strategies are verified output-identical, so auto only ever moves
    WALL, never results.

    ``prefilter_factor`` is DEPRECATED: the salted two-phase cap is
    unconditionally exact, needs no verifier, and beat the prefilter
    at every volume the zipf lane measured (SCALE.md, round 13) — the
    knob remains only for the measured-crossover history. The two
    knobs are mutually exclusive.
    """
    if cap <= 0:
        raise ValueError(f"cap must be positive, got {cap}")
    if level not in ("host", "domain", "registrable"):
        raise ValueError(
            f"level must be 'host', 'domain' or 'registrable', got {level!r}"
        )
    if prefilter_factor is not None and salt_buckets is not None:
        raise ValueError(
            "prefilter_factor and salt_buckets are mutually exclusive"
        )
    if isinstance(salt_buckets, str) and salt_buckets != "auto":
        raise ValueError(
            f"salt_buckets must be an int, None or 'auto', got {salt_buckets!r}"
        )
    from pyspark.sql import Window

    u = canonicalize_url(url_col)
    if level == "registrable":
        # PSL-correct grouping: broadcast longest-match join on the
        # suffix dim (zero extra shuffle); the window key is eTLD+1
        with_host = with_registrable_domain(
            df.withColumn("__host", u["host"]),
            "__host",
            suffixes,
            out_col="registrable",
        ).drop("__host")
    else:
        with_host = df.withColumn(level, u[level])
    with_host = with_host.withColumn(
        "__cap_key",
        F.md5(
            F.concat(
                F.lit(salt), u["canonical"], F.col(id_col).cast("string")
            )
        ),
    )
    if salt_buckets == "auto":
        # measured pre-flight (docstring): hottest-host census, 1 row
        from .skew import key_skew_stats

        top = key_skew_stats(with_host, [level], top=1).collect()
        hot_rows = int(top[0]["key_rows"]) if top else 0
        if hot_rows <= auto_hot_threshold:
            salt_buckets = None
        else:
            salt_buckets = max(8, min(1024, hot_rows // 250_000))
    prefiltered = False
    if prefilter_factor is not None:
        if prefilter_factor < 2:
            raise ValueError(
                f"prefilter_factor must be >= 2, got {prefilter_factor}"
            )
        # hot-host prefilter (docstring): per-host counts broadcast back;
        # keep a row iff its uniform 32-bit md5 prefix falls under
        # factor*cap/|host| of the key space — exact integer compare, no
        # float. The window ranks by the SAME md5, so whenever a host
        # keeps >= min(cap, |host|) survivors the output is EXACTLY the
        # unfiltered result (dropped rows have strictly larger prefixes
        # than at least cap survivors).
        # The same aggregate also carries the per-host MIN 32-bit prefix
        # (a BIGINT, deliberately — min over the md5 STRING would force
        # SortAggregate, strings being immutable in hash-agg buffers,
        # and sort the full corpus twice; the bigint min stays a
        # map-side-partial HashAggregate), and rows tied on that min
        # prefix are unconditionally kept (third disjunct). The true
        # rank-1 row is among them (the lexicographic min of the full
        # 128-bit key also minimizes the prefix), so keeping them never
        # changes the output — but it makes "every row of a host
        # dropped" IMPOSSIBLE by construction, which lets the shortfall
        # verifier below ride inside the plan instead of costing a
        # second pass (round-12: the old design persisted two frames and
        # ran a separate count job; prefiltered wall was 3-9x the plain
        # window on every fixture — scale_bench --lane zipf history).
        u32 = F.conv(F.substring("__cap_key", 1, 8), 16, 10).cast("bigint")
        budget = F.lit(int(prefilter_factor) * cap).cast("bigint")
        counts = with_host.groupBy(level).agg(
            F.count(F.lit(1)).alias("__hn"),
            F.min(u32).alias("__mu"),
        )
        with_host = (
            with_host.join(F.broadcast(counts), level)
            .withColumn(
                "__pass",
                (F.col("__hn") <= budget)
                | (u32 * F.col("__hn") < budget * F.lit(1 << 32)),
            )
            .filter(F.col("__pass") | (u32 == F.col("__mu")))
        )
        prefiltered = True
    w = Window.partitionBy(level).orderBy(
        F.col("__cap_key").asc(), F.col(id_col).asc()
    )
    if salt_buckets is not None:
        if salt_buckets < 2:
            raise ValueError(
                f"salt_buckets must be >= 2, got {salt_buckets}"
            )
        # stage 1: exact per-(host, bucket) top-cap — the hot host sorts
        # in salt_buckets parallel tasks; deterministic bucket choice
        # (hash of the id, no RNG) keeps the result replayable
        bkt = F.pmod(F.xxhash64(F.col(id_col)), F.lit(salt_buckets))
        w1 = Window.partitionBy(F.col(level), bkt).orderBy(
            F.col("__cap_key").asc(), F.col(id_col).asc()
        )
        with_host = (
            with_host.withColumn("__r1", F.row_number().over(w1))
            .filter(F.col("__r1") <= cap)
            .drop("__r1")
        )
        # stage 2 falls through to the exact host-level window below,
        # now over ≤ salt_buckets·cap rows per host
    ranked = with_host.withColumn(f"{level}_rank", F.row_number().over(w))
    if not prefiltered:
        return ranked.filter(F.col(f"{level}_rank") <= cap).drop("__cap_key")
    # verify the guarantee instead of assuming it: every host must carry
    # min(cap, |host|) THRESHOLD-passing survivors into the rank window,
    # else the threshold cut into the true top-cap (Chernoff-rare at
    # factor >= 8) — hard-fail rather than silently under-cap. The
    # passer count is a windowed SUM over the same partitioning as the
    # rank window (one exchange, no extra scan), and the assert_true
    # rides in the rank filter, so verification is evaluated during the
    # caller's own action at zero extra jobs. Every host has >= 1
    # survivor (the min-prefix escape above), so the per-row assertion
    # covers every host — the all-rows-dropped hole the round-11
    # advisory flagged cannot occur anymore. Escape rows do NOT count
    # toward the guarantee (only threshold-passers provably dominate
    # every dropped row), with one carve-out: at effective cap 1 the
    # escape set alone is provably exact — it contains the min full
    # key, and the window re-ranks survivors by full key — so a host
    # needing only its top-1 never trips the check.
    sn = F.sum(F.when(F.col("__pass"), 1).otherwise(0)).over(
        Window.partitionBy(level)
    )
    ok = (
        F.col("__sn")
        >= F.least(F.lit(cap).cast("bigint"), F.col("__hn"))
    ) | (F.least(F.lit(cap).cast("bigint"), F.col("__hn")) <= 1)
    msg = F.concat(
        F.lit("cap_per_host prefilter under-delivered on host "),
        F.col(level).cast("string"),
        F.lit(" ("),
        F.col("__sn").cast("string"),
        F.lit(f" survivors < min({cap}, "),
        F.col("__hn").cast("string"),
        F.lit(f")); raise prefilter_factor (got {prefilter_factor})"),
    )
    return (
        ranked.withColumn("__sn", sn)
        .filter(
            (F.col(f"{level}_rank") <= cap)
            & F.coalesce(
                F.assert_true(ok, msg).cast("boolean"), F.lit(True)
            )
        )
        .drop("__cap_key", "__hn", "__mu", "__pass", "__sn")
    )


def apply_blocklist(
    df: DataFrame,
    blocklist: DataFrame,
    url_col: str = "url",
    suffixes: DataFrame | None = None,
) -> DataFrame:
    """Drop documents whose URL matches a curation blocklist — the
    standard crawl-corpus hygiene stage (C4/RefinedWeb filter lists).

    ``blocklist`` columns: ``domain`` (PSL registrable domain, required)
    and ``path_prefix`` (nullable — NULL blocks the whole domain, a
    value blocks only canonical paths starting with it).

    Plan shape at 100 TB: canonicalization + the PSL longest-match are
    map-only broadcast joins, and the blocklist itself is a BROADCAST
    LEFT ANTI join — the corpus never shuffles; a blocklist of even a
    few million rows is still dim-sized next to the crawl. Matching is
    on the REGISTRABLE domain, so blocking ``tracker.co.uk`` does not
    take down the rest of ``.co.uk`` the way a 2-label match would."""
    u = canonicalize_url(url_col)
    enriched = with_registrable_domain(
        df.withColumn("__host", u["host"]).withColumn("__path", u["path"]),
        "__host",
        suffixes,
        out_col="__reg",
    )
    bl = blocklist.select(
        F.col("domain").alias("__bl_dom"),
        F.col("path_prefix").alias("__bl_prefix"),
    )
    cond = (F.col("__reg") == F.col("__bl_dom")) & (
        F.col("__bl_prefix").isNull()
        | F.col("__path").startswith(F.col("__bl_prefix"))
    )
    return enriched.join(F.broadcast(bl), cond, "left_anti").drop(
        "__host", "__path", "__reg"
    )


def robots_gate(
    df: DataFrame,
    rules: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
) -> DataFrame:
    """Robots Exclusion Protocol verdict per URL (RFC 9309 / the
    Google REP rules, path-rule subset) — the crawl-compliance gate a
    web-corpus funnel runs before fetching or keeping a page. ``rules``
    carries one row per (host, path_prefix, allow) directive (the
    parsed Allow/Disallow lines for the crawler's user-agent; parsing
    the robots.txt TEXT is an ingest concern — this operator is the
    corpus-side join that must scale). Verdict per RFC 9309 §2.2.2:
    among the host's rules whose ``path_prefix`` prefixes the URL's
    canonical path (the empty prefix matches everything), the LONGEST
    prefix wins; on a length tie ``allow`` wins; a URL with no
    matching rule — or a host with no rules at all — is allowed.

    Plan shape: one equi-join on host (broadcast while the directive
    table is small; a crawl-scale rules table — millions of hosts —
    shuffles on the same key the cap/blocklist stages already hash
    on), one per-URL ``max(struct(prefix_len, allow))`` aggregate (the
    struct's lexicographic order IS the longest-wins-ties-allow rule —
    no window, map-side combinable), and one id-keyed join back.
    Returns the input columns + ``host`` + ``robots_allowed``; filter
    on the flag to enforce, keep it to audit.
    """
    u = canonicalize_url(url_col)
    base = df.withColumn("host", u["host"]).withColumn("__path", u["path"])
    r = rules.select(
        F.lower(F.col("host")).alias("host"),
        F.col("path_prefix").alias("__pfx"),
        F.col("allow").cast("boolean").alias("__allow"),
    )
    matched = (
        base.select(F.col(id_col), "host", "__path")
        .join(r, "host")
        .filter(F.col("__path").startswith(F.col("__pfx")))
        .groupBy(id_col)
        .agg(
            F.max(
                F.struct(
                    F.length("__pfx").alias("l"), F.col("__allow").alias("a")
                )
            ).alias("__best")
        )
        .select(id_col, F.col("__best.a").alias("__verdict"))
    )
    return (
        base.join(matched, id_col, "left")
        .withColumn(
            "robots_allowed", F.coalesce(F.col("__verdict"), F.lit(True))
        )
        .drop("__path", "__verdict")
    )
