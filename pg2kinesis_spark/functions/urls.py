"""URL/domain-level curation — the CCNet / RefinedWeb front-door gates.

Web-scale training corpora dedup and filter on the URL axis before any
text gate runs (RefinedWeb §3.1: URL filtering is the first stage;
CCNet dedups by normalized URL). Everything here is pure codegen
(regexp/split/array expressions — map-only, zero shuffle) except the
explicitly-shuffling dedup/cap operators, which reuse the repo's
verified shapes (groupBy-min first-occurrence, salted two-phase top-k).

Operators:
- ``parse_urls``       — host / registered domain / path / normalized
                         URL columns from a raw ``url`` column.
- ``url_dedup``        — exact dedup on the normalized URL
                         (first-occurrence by id, groupBy-min — the
                         n5 hash-dedup shape, never a window).
- ``domain_blocklist_filter`` — drop docs whose host is a blocked
                         domain or any subdomain of one (broadcast).
- ``url_badword_score`` / ``url_badword_filter`` — RefinedWeb-style
                         soft-ban scoring of URL substrings.
- ``domain_cap``       — at most k docs per registered domain
                         (per-domain crawl budget), salted two-phase.

Normalization rules (pinned, mirrored by the pure-Python oracle in
tests/test_urls.py): lowercase scheme+host, strip a leading ``www.``,
drop the fragment, drop tracking params (``utm_`` by prefix; gclid,
fbclid, ref, igshid, mc_cid, mc_eid by exact param NAME — ``refresh=``
is not ``ref``), sort surviving query params, strip default ports
(:80/:443), collapse a trailing ``/`` on a bare path.

The reference (/root/reference/pg2kinesis) has no analogue — this is
north-star training-data surface, not parity.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from pg2kinesis_spark.functions.dedup import HASH60

# --------------------------------------------------------------------------
# Public-suffix rules (publicsuffix.org syntax: "co.uk" exact,
# "*.ck" wildcard, "!www.ck" exception). The built-in set below is a
# vendored subset of the PUBLIC suffix list (public data, MPL-2.0):
# every wildcard TLD, the second-level registration suffixes of the
# major ccTLDs, and the most common private-section hosting suffixes —
# the entries that actually change registered-domain grouping for a
# web corpus. ``compile_psl`` turns the rules into the lookup structure
# that ``_rd_case_sql`` renders as one pure longest-match column
# expression (IN over literal sets -> Catalyst InSet; map-only, no UDF,
# no join).
# --------------------------------------------------------------------------

_PSL_BUILTIN = (
    # wildcard TLDs (every label directly under them is a suffix)
    "*.bd", "*.ck", "*.er", "*.fk", "*.jm", "*.kh", "*.mm", "*.np", "*.pg",
    "!www.ck",
    # United Kingdom / Ireland
    "co.uk", "org.uk", "me.uk", "ltd.uk", "plc.uk", "net.uk", "sch.uk",
    "ac.uk", "gov.uk", "nhs.uk", "police.uk",
    # Australia / New Zealand
    "com.au", "net.au", "org.au", "edu.au", "gov.au", "asn.au", "id.au",
    "co.nz", "net.nz", "org.nz", "govt.nz", "ac.nz", "school.nz", "geek.nz",
    "gen.nz", "kiwi.nz", "maori.nz", "iwi.nz", "health.nz", "mil.nz", "cri.nz",
    # Japan / Korea / China / Taiwan / Hong Kong / Singapore
    "co.jp", "or.jp", "ne.jp", "ac.jp", "ad.jp", "ed.jp", "go.jp", "gr.jp", "lg.jp",
    "co.kr", "or.kr", "ne.kr", "re.kr", "pe.kr", "go.kr", "mil.kr", "ac.kr",
    "hs.kr", "ms.kr", "es.kr", "sc.kr", "kg.kr",
    "com.cn", "net.cn", "org.cn", "gov.cn", "edu.cn", "mil.cn", "ac.cn",
    "com.tw", "net.tw", "org.tw", "edu.tw", "gov.tw", "mil.tw", "idv.tw",
    "com.hk", "net.hk", "org.hk", "edu.hk", "gov.hk", "idv.hk",
    "com.sg", "net.sg", "org.sg", "edu.sg", "gov.sg", "per.sg",
    # India / Indonesia / Thailand / Malaysia / Philippines / Vietnam
    "co.in", "net.in", "org.in", "firm.in", "gen.in", "ind.in", "ac.in",
    "edu.in", "res.in", "gov.in", "mil.in", "nic.in",
    "co.id", "net.id", "or.id", "web.id", "sch.id", "go.id", "mil.id", "my.id",
    "biz.id", "ac.id",
    "co.th", "net.th", "or.th", "ac.th", "go.th", "in.th", "mi.th",
    "com.my", "net.my", "org.my", "edu.my", "gov.my", "mil.my", "name.my",
    "com.ph", "net.ph", "org.ph", "edu.ph", "gov.ph", "mil.ph", "i.ph",
    "com.vn", "net.vn", "org.vn", "edu.vn", "gov.vn", "int.vn", "ac.vn",
    "biz.vn", "info.vn", "name.vn", "pro.vn", "health.vn",
    # Americas
    "com.br", "net.br", "org.br", "gov.br", "edu.br", "mil.br", "art.br",
    "blog.br", "eco.br", "ind.br", "inf.br", "jus.br", "leg.br", "med.br",
    "mus.br", "rec.br", "srv.br", "tur.br", "tv.br", "wiki.br",
    "com.mx", "net.mx", "org.mx", "edu.mx", "gob.mx",
    "com.ar", "net.ar", "org.ar", "edu.ar", "gob.ar", "gov.ar", "int.ar",
    "mil.ar", "musica.ar", "tur.ar",
    "com.co", "net.co", "org.co", "edu.co", "gov.co", "mil.co", "nom.co",
    "com.pe", "net.pe", "org.pe", "edu.pe", "gob.pe", "mil.pe", "nom.pe",
    "com.ve", "net.ve", "org.ve", "edu.ve", "gob.ve", "mil.ve",
    "com.uy", "net.uy", "org.uy", "edu.uy", "gub.uy", "mil.uy",
    "com.ec", "net.ec", "org.ec", "edu.ec", "gob.ec", "mil.ec",
    "com.do", "net.do", "org.do", "edu.do", "gob.do", "mil.do",
    "com.gt", "net.gt", "org.gt", "edu.gt", "gob.gt", "mil.gt",
    "com.pa", "net.pa", "org.pa", "edu.pa", "gob.pa",
    "com.py", "net.py", "org.py", "edu.py", "gov.py", "mil.py",
    "com.bo", "net.bo", "org.bo", "edu.bo", "gob.bo", "mil.bo",
    "com.ni", "net.ni", "org.ni", "edu.ni", "gob.ni", "mil.ni",
    "com.sv", "edu.sv", "gob.sv", "org.sv", "red.sv",
    "com.hn", "net.hn", "org.hn", "edu.hn", "gob.hn", "mil.hn",
    "co.cr", "ed.cr", "fi.cr", "go.cr", "or.cr", "sa.cr",
    # Europe
    "com.pl", "net.pl", "org.pl", "edu.pl", "gov.pl", "mil.pl", "info.pl",
    "waw.pl", "biz.pl",
    "com.tr", "net.tr", "org.tr", "edu.tr", "gov.tr", "mil.tr", "av.tr",
    "bbs.tr", "bel.tr", "biz.tr", "dr.tr", "gen.tr", "info.tr", "k12.tr",
    "name.tr", "pol.tr", "tel.tr", "tv.tr", "web.tr",
    "com.ua", "net.ua", "org.ua", "edu.ua", "gov.ua", "in.ua",
    "com.ru", "net.ru", "org.ru", "pp.ru", "msk.ru", "spb.ru",
    "co.at", "or.at", "ac.at", "gv.at", "priv.at",
    "com.pt", "net.pt", "org.pt", "edu.pt", "gov.pt", "int.pt", "publ.pt",
    "com.gr", "net.gr", "org.gr", "edu.gr", "gov.gr",
    "com.ro", "org.ro", "tm.ro", "nt.ro", "nom.ro", "info.ro", "rec.ro",
    "arts.ro", "firm.ro", "store.ro", "www.ro",
    "co.hu", "org.hu", "info.hu", "priv.hu", "tm.hu", "2000.hu",
    "com.cy", "net.cy", "org.cy", "gov.cy", "ac.cy",
    "com.mt", "net.mt", "org.mt", "edu.mt", "gov.mt",
    "co.rs", "org.rs", "edu.rs", "ac.rs", "gov.rs", "in.rs",
    "com.hr", "iz.hr", "from.hr", "name.hr",
    "co.im", "com.im", "net.im", "org.im", "ac.im", "gov.im",
    "co.gg", "net.gg", "org.gg", "co.je", "net.je", "org.je",
    # Middle East / Africa
    "co.il", "org.il", "net.il", "k12.il", "gov.il", "ac.il", "muni.il", "idf.il",
    "com.sa", "net.sa", "org.sa", "edu.sa", "gov.sa", "med.sa", "pub.sa", "sch.sa",
    "co.ae", "net.ae", "org.ae", "ac.ae", "gov.ae", "mil.ae", "sch.ae",
    "com.eg", "net.eg", "org.eg", "edu.eg", "gov.eg", "sci.eg", "eun.eg",
    "mil.eg", "name.eg", "info.eg",
    "com.qa", "net.qa", "org.qa", "edu.qa", "gov.qa", "mil.qa", "name.qa", "sch.qa",
    "com.kw", "net.kw", "org.kw", "edu.kw", "gov.kw", "ind.kw", "emb.kw",
    "com.bh", "net.bh", "org.bh", "edu.bh", "gov.bh",
    "com.om", "net.om", "org.om", "edu.om", "gov.om", "med.om", "museum.om",
    "pro.om", "co.om",
    "com.jo", "net.jo", "org.jo", "edu.jo", "gov.jo", "mil.jo", "name.jo", "sch.jo",
    "com.lb", "net.lb", "org.lb", "edu.lb", "gov.lb",
    "co.za", "net.za", "org.za", "web.za", "gov.za", "ac.za", "edu.za",
    "mil.za", "nom.za", "school.za",
    "com.ng", "net.ng", "org.ng", "edu.ng", "gov.ng", "i.ng", "mil.ng",
    "mobi.ng", "name.ng", "sch.ng",
    "co.ke", "or.ke", "ne.ke", "go.ke", "ac.ke", "sc.ke", "me.ke", "mobi.ke",
    "info.ke",
    "co.tz", "ne.tz", "or.tz", "go.tz", "ac.tz", "sc.tz", "me.tz", "mobi.tz",
    "hotel.tz", "tv.tz", "info.tz",
    "co.ug", "ne.ug", "or.ug", "go.ug", "ac.ug", "sc.ug",
    "co.zw", "org.zw", "gov.zw", "mil.zw", "ac.zw",
    "com.gh", "edu.gh", "gov.gh", "org.gh", "mil.gh",
    "co.ma", "net.ma", "org.ma", "gov.ma", "ac.ma", "press.ma",
    "com.tn", "ens.tn", "fin.tn", "gov.tn", "ind.tn", "info.tn", "intl.tn",
    "nat.tn", "net.tn", "org.tn", "perso.tn", "tourism.tn",
    "com.dz", "net.dz", "org.dz", "edu.dz", "gov.dz", "pol.dz", "art.dz",
    # common private-section hosting suffixes (each site its own domain)
    "github.io", "gitlab.io", "blogspot.com", "wordpress.com", "tumblr.com",
    "weebly.com", "wixsite.com", "netlify.app", "vercel.app", "herokuapp.com",
    "appspot.com", "web.app", "firebaseapp.com", "azurewebsites.net",
    "cloudapp.net", "github.dev", "pages.dev", "workers.dev", "repl.co",
    "neocities.org", "readthedocs.io", "s3.amazonaws.com",
)


def compile_psl(rules: tuple[str, ...] | list[str]) -> dict:
    """Compile PSL-syntax rules into the longest-match lookup structure:
    ``{"exact": {L: frozenset}, "wild": {L_parent: frozenset},
    "exc": {L: frozenset}, "max_s": int}`` where L is the label count.
    """
    exact: dict[int, set[str]] = {}
    wild: dict[int, set[str]] = {}
    exc: dict[int, set[str]] = {}
    for raw in rules:
        r = raw.strip().lower()
        if not r or r.startswith("//"):
            continue
        if r.startswith("!"):
            name = r[1:]
            exc.setdefault(name.count(".") + 1, set()).add(name)
        elif r.startswith("*."):
            parent = r[2:]
            wild.setdefault(parent.count(".") + 1, set()).add(parent)
        else:
            exact.setdefault(r.count(".") + 1, set()).add(r)
    max_s = max(
        [ln for ln in exact] + [ln + 1 for ln in wild] + [1],
    )
    return {
        "exact": {k: frozenset(v) for k, v in exact.items()},
        "wild": {k: frozenset(v) for k, v in wild.items()},
        "exc": {k: frozenset(v) for k, v in exc.items()},
        "max_s": max_s,
    }


_PSL_COMPILED = compile_psl(_PSL_BUILTIN)


_TRACKING_PARAMS = ("utm_", "gclid", "fbclid", "ref", "igshid", "mc_cid", "mc_eid")


def _host(url: str | Column = "url") -> Column:
    c = F.col(url) if isinstance(url, str) else url
    return F.lower(F.try_parse_url(c, F.lit("HOST")))


def _q(name: str) -> str:
    """Backtick-quote a column name for SQL text."""
    return "`" + name.replace("`", "``") + "`"


def _host_sql(url_col: str) -> str:
    """SQL text mirror of ``_host`` for a named column."""
    return f"lower(try_parse_url({_q(url_col)}, 'HOST'))"


def _sql_str(s: str) -> str:
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _rd_case_sql(host_sql: str) -> str:
    """eTLD+1 of ``host_sql`` under the PUBLIC SUFFIX LIST longest-match
    algorithm (publicsuffix.org) as one SQL CASE: exceptions beat
    wildcards, longer rules beat shorter, the implicit ``*`` default
    makes every bare TLD a suffix, and a NULL host gives a NULL domain.
    The rules are the vendored built-in subset (``_PSL_COMPILED``).

    Rendered as ONE string and parsed JVM-side in a single call: a
    Column-API builder of the same tree made ~550 literal Column objects
    through py4j (one round-trip each, ~0.5 s per construction —
    measured, r12 opt round). ``_py_registered`` is the pure-Python
    mirror; ``test_urls.py::test_registered_domain_sql_twin`` pins the
    two against each other.
    """
    p = _PSL_COMPILED
    parts = f"split({host_sql}, '\\\\.')"
    n = f"size({parts})"

    def last(ln: int) -> str:
        els = ", ".join(f"element_at({parts}, {-i})" for i in range(ln, 0, -1))
        return f"concat_ws('.', {els})"

    def inset(cand: str, values) -> str:
        return f"{cand} IN (" + ", ".join(_sql_str(v) for v in sorted(values)) + ")"

    clauses = [
        f"WHEN {host_sql} IS NULL THEN CAST(NULL AS STRING)",
        f"WHEN {n} <= 1 THEN {host_sql}",
    ]
    for ln in sorted(p["exc"], reverse=True):
        clauses.append(
            f"WHEN ({n} >= {ln}) AND ({inset(last(ln), p['exc'][ln])}) THEN {last(ln)}"
        )
    for s_len in range(p["max_s"], 1, -1):
        conds = []
        if s_len in p["exact"]:
            conds.append(f"({inset(last(s_len), p['exact'][s_len])})")
        if s_len - 1 in p["wild"]:
            conds.append(f"({inset(last(s_len - 1), p['wild'][s_len - 1])})")
        if not conds:
            continue
        hit = " OR ".join(conds)
        # one WHEN for both (n > s) -> last(s+1) and (n = s) -> host:
        # the big IN set appears in the tree ONCE instead of twice
        clauses.append(
            f"WHEN ({n} >= {s_len}) AND ({hit})"
            f" THEN IF({n} > {s_len}, {last(s_len + 1)}, {host_sql})"
        )
    return "CASE " + " ".join(clauses) + f" ELSE {last(2)} END"


def _registered_domain_expr(host_sql: str) -> Column:
    """Registered domain (eTLD+1) of a SQL-text host expression
    (``_rd_case_sql``) as a Column."""
    return F.expr(_rd_case_sql(host_sql))


def normalize_url(url: str | Column = "url") -> Column:
    """The pinned CCNet-style canonical form (docstring above).

    Built entirely from parse_url + regexp/array codegen; NULL in →
    NULL out; a URL with no query keeps none.
    """
    c = F.col(url) if isinstance(url, str) else url
    scheme = F.lower(F.coalesce(F.try_parse_url(c, F.lit("PROTOCOL")), F.lit("http")))
    host = F.regexp_replace(_host(c), r"^www\.", "")
    # optional userinfo is consumed POSSESSIVELY (?+) — a plain ? lets
    # the engine backtrack out of it and capture a numeric password as
    # the port (user:1234@host)
    port = F.regexp_extract(
        c, r"^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#]*@)?+[^/?#:]*:(\d+)", 1
    )
    keep_port = F.when(
        (port != "") & ~port.isin("80", "443"), F.concat(F.lit(":"), port)
    ).otherwise(F.lit(""))
    path = F.coalesce(F.try_parse_url(c, F.lit("PATH")), F.lit(""))
    path = F.when(path == "/", F.lit("")).otherwise(path)
    query = F.coalesce(F.try_parse_url(c, F.lit("QUERY")), F.lit(""))
    # utm_* matches by prefix; every other tracking entry matches the
    # exact param NAME (t or t=...) — a bare prefix would also strip
    # genuine params like refresh= / reference=
    def _tracked(p: Column) -> Column:
        hit = F.lit(False)
        for t in _TRACKING_PARAMS:
            if t.endswith("_"):  # prefix-family entry (utm_*)
                hit = hit | p.startswith(t)
            else:
                hit = hit | (p == t) | p.startswith(t + "=")
        return hit

    kept = F.array_sort(
        F.filter(F.split(query, "&"), lambda p: (p != "") & ~_tracked(p))
    )
    qstr = F.when(F.size(kept) > 0, F.concat(F.lit("?"), F.array_join(kept, "&"))).otherwise(
        F.lit("")
    )
    return F.when(
        c.isNull() | _host(c).isNull(), F.lit(None).cast("string")
    ).otherwise(F.concat(scheme, F.lit("://"), host, keep_port, path, qstr))


def parse_urls(
    df: DataFrame,
    url_col: str = "url",
    host_col: str = "host",
    domain_col: str = "domain",
    path_col: str = "path",
    norm_col: str = "url_norm",
) -> DataFrame:
    """Adds host, domain (registered), path, url_norm — one map-only
    pass. The output names are overridable so pipeline callers
    (curate_corpus, CorpusIngest) can use internal names that cannot
    clobber same-named user columns on the input."""
    # two ops, not four: every DataFrame op re-analyzes the whole plan
    # eagerly, and the domain/norm CASE trees are the largest
    # expressions in the repo (r12 opt round: 4 withColumns -> 2 ops
    # halves the analysis passes over them)
    return df.withColumn(host_col, _host(url_col)).withColumns(
        {
            domain_col: _registered_domain_expr(_q(host_col)),
            path_col: F.try_parse_url(F.col(url_col), F.lit("PATH")),
            norm_col: normalize_url(url_col),
        }
    )


def url_dedup(
    df: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    norm_col: str | None = None,
) -> DataFrame:
    """One doc per normalized URL — the smallest id wins (deterministic
    first-occurrence). Docs whose URL fails to parse (url_norm NULL)
    are all kept — no evidence of duplication. ``norm_col`` reuses a
    ``parse_urls``-computed ``url_norm`` column.

    Shape (r13 opt round): the dedup DECISION runs over a key-only
    (url_norm, id) projection — a partial-aggregated groupBy finds
    each duplicated URL's winner, and an AQE-skew-splittable join
    marks the losers — and the payload is touched exactly once, by a
    single LOSER-list anti join. The previous keep-list semi join
    shuffled the document side by (url_norm, id) whenever the winner
    table (one row per distinct URL — corpus-sized at scale) outgrew
    the broadcast threshold; the loser list is only the *duplicate*
    ids, typically orders of magnitude smaller and broadcastable far
    longer (guide §2.3 shuffle keys not payloads, §3.1 broadcast the
    small side). NULL-norm rows fall out for free: they never enter
    the loser list, so the anti join keeps them — no NULL-split
    union, one fewer subtree. Requires ``id_col`` values to be unique
    per row (every caller's contract: doc_id is the corpus primary
    key). Keep-set is identical to the historical groupBy-min +
    semi-join shape — pinned by
    tests/test_urls.py::test_url_dedup_first_id_wins.
    """
    un = norm_col if norm_col is not None else "_un"
    keys = (
        df.select(id_col, un)
        if norm_col is not None
        else df.select(F.col(id_col), normalize_url(url_col).alias(un))
    ).filter(F.col(un).isNotNull())
    # winners restricted to DUPLICATED urls only (n > 1): the join below
    # carries just the contended groups, and a hot normalized URL is a
    # join key AQE skew-handling can split (a window could not)
    dup_winners = (
        keys.groupBy(un)
        .agg(F.min(id_col).alias("_w"), F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > 1)
        .select(un, "_w")
    )
    losers = (
        keys.join(dup_winners, un)
        .filter(F.col(id_col) != F.col("_w"))
        .select(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def _py_is_public_suffix(b: str) -> bool:
    """True when ``b`` itself is a public suffix under the compiled PSL
    (exact rule, wildcard-covered label, exception rules excluded, and
    the implicit ``*`` rule for bare TLDs). A blocklist entry that is a
    suffix — ``blogspot.com``-style private hosting suffixes above all —
    must match by HOST suffix, not registered-domain equality: its
    subdomains each have their OWN registered domain."""
    p = _PSL_COMPILED
    parts = b.split(".")
    n = len(parts)
    for ln in p["exc"]:
        if n == ln and b in p["exc"][ln]:
            return False  # exception rule: explicitly registrable
    if n in p["exact"] and b in p["exact"][n]:
        return True
    if n >= 2 and (n - 1) in p["wild"] and ".".join(parts[1:]) in p["wild"][n - 1]:
        return True
    return n == 1  # implicit '*': every bare TLD is a suffix


def _py_registered(b: str) -> str:
    """Pure-Python mirror of ``_rd_case_sql`` — used to split
    blocklists at compile time and as the cross-checked test oracle."""
    p = _PSL_COMPILED
    parts = b.split(".")
    n = len(parts)
    if n <= 1:
        return b
    for ln in sorted(p["exc"], reverse=True):
        if n >= ln and ".".join(parts[-ln:]) in p["exc"][ln]:
            return ".".join(parts[-ln:])
    for s_len in range(p["max_s"], 1, -1):
        hit = (
            s_len in p["exact"] and ".".join(parts[-s_len:]) in p["exact"][s_len]
        ) or (
            s_len - 1 in p["wild"]
            and n >= s_len
            and ".".join(parts[-(s_len - 1):]) in p["wild"][s_len - 1]
        )
        if hit and n > s_len:
            return ".".join(parts[-(s_len + 1):])
        if hit and n == s_len:
            return b
    return ".".join(parts[-2:])


def domain_blocklist_filter(
    df: DataFrame,
    blocklist: list[str],
    url_col: str = "url",
    host_col: str | None = None,
    domain_col: str | None = None,
) -> DataFrame:
    """Drop rows whose host IS a blocked domain or a subdomain of one.

    The blocklist is a driver-side list (typically 10³–10⁵ entries —
    UT1/adult-blocklist scale). It is split at compile time:

    * entries that ARE a registered domain (the overwhelming majority
      in real blocklists) match by eTLD+1 equality — one broadcast
      HASH anti-join, O(1) per row regardless of list size;
    * deeper entries (e.g. ``bad.example.com``) AND entries that are
      themselves public suffixes (``blogspot.com``-style hosting
      suffixes, whose subdomains each carry their own eTLD+1) match by
      host equality or ``.``-suffix — a broadcast theta anti-join over
      only that (small) residue, never the full list.

    ``host_col``/``domain_col`` reuse columns a prior ``parse_urls``
    already computed — the PSL longest-match CASE is the expensive
    expression in the URL tier, and a pipeline that chains blocklist +
    cap would otherwise evaluate it once per stage per row.
    """
    spark = df.sparkSession
    tmp = []
    base = df
    hc = host_col
    if hc is None:
        base = base.withColumn("_h", _host(url_col))
        hc = "_h"
        tmp.append("_h")
    dc = domain_col
    if dc is None:
        base = base.withColumn("_d", _registered_domain_expr(_q(hc)))
        dc = "_d"
        tmp.append("_d")
    entries = sorted({b.lower().lstrip(".") for b in blocklist})
    # three-way split: an entry that IS a public suffix (blogspot.com,
    # github.io, bare TLDs) would never match by registered-domain
    # equality — every subdomain under it has its own eTLD+1 — so it
    # takes the host-suffix path alongside the deeper-than-registered
    # entries
    regs = [
        b
        for b in entries
        if _py_registered(b) == b and not _py_is_public_suffix(b)
    ]
    regs_set = set(regs)
    deep = [b for b in entries if b not in regs_set]
    out = base
    if regs:
        rdf = F.broadcast(spark.createDataFrame([(b,) for b in regs], "b string"))
        out = out.join(rdf, out[dc] == rdf["b"], "left_anti")
    if deep:
        ddf = F.broadcast(spark.createDataFrame([(b,) for b in deep], "b string"))
        out = out.join(
            ddf,
            (out[hc] == ddf["b"]) | out[hc].endswith(F.concat(F.lit("."), ddf["b"])),
            "left_anti",
        )
    return out.drop(*tmp)


def url_badword_score(url_col: str = "url", words: tuple[str, ...] = ()) -> Column:
    """RefinedWeb-style soft-ban score: how many banned substrings the
    lowercased URL contains (each counted once). Pure regexp codegen."""
    c = F.lower(F.col(url_col))
    score = F.lit(0)
    for w in words:
        score = score + F.when(c.contains(w.lower()), 1).otherwise(0)
    return score


def url_badword_filter(
    df: DataFrame, words: tuple[str, ...], max_score: int = 0, url_col: str = "url"
) -> DataFrame:
    """Keep rows whose badword score is <= max_score — map-only."""
    return df.filter(url_badword_score(url_col, words) <= max_score)


def domain_cap(
    df: DataFrame,
    k: int,
    url_col: str = "url",
    id_col: str = "doc_id",
    order_col: str | None = None,
    n_salt: int = 32,
    domain_col: str | None = None,
) -> DataFrame:
    """At most k docs per registered domain — the per-domain crawl
    budget (CommonCrawl-style hostload). Keeps the k best by
    (order_col desc, id) when order_col is given (e.g. a quality
    score), else the k smallest ids. Salted two-phase ranking: no
    whole-domain reducer funnel (the hot-domain case is exactly the
    skew this repo's top-k shape exists for). Docs whose URL fails to
    parse (NULL domain) all pass through uncapped — the url_dedup
    no-evidence rule, not one shared cap bucket.

    Shape (r13 opt round): the cap DECISION ranks a key-only
    (domain, order, id) projection — both ranking windows previously
    partitioned the FULL rows, so the document payload crossed two
    exchanges just to learn its rank — and the payload is touched
    once, by a LOSER-list anti join (ids past the cap: the small,
    broadcast-friendly side; a keep list is nearly the whole corpus
    when most domains sit under budget). NULL-domain rows never enter
    the loser list, so the anti join keeps them — the NULL-split
    union is gone (guide §2.3 shuffle keys not payloads, §3.1, §8
    "decide with small rows, move big rows once"). Keep-set identical
    — pinned by tests/test_urls.py::test_domain_cap_matches_single_phase.
    Requires ``id_col`` values unique per row (the callers' doc_id
    primary-key contract)."""
    if domain_col is None:
        dom_expr = _registered_domain_expr(_host_sql(url_col)).alias("_dom")
        dom = "_dom"
    else:
        dom_expr, dom = F.col(domain_col), domain_col
    if order_col is None:
        order = (F.col(id_col).asc(),)
        keys = df.select(F.col(id_col), dom_expr)
    else:
        order = (F.col(order_col).desc(), F.col(id_col).asc())
        keys = df.select(F.col(id_col), F.col(order_col), dom_expr)
    keys = keys.filter(F.col(dom).isNotNull())
    h = F.expr(HASH60.format(x=f"cast({id_col} as string)"))
    salted = keys.withColumn("_salt", F.pmod(h, F.lit(n_salt)))
    w_local = W.partitionBy(dom, "_salt").orderBy(*order)
    ranked = salted.withColumn("_lrnk", F.row_number().over(w_local))
    # local-phase losers (_lrnk > k) are losers outright: the global
    # rank only grows. Survivors get the exact global rank.
    w_dom = W.partitionBy(dom).orderBy(*order)
    global_losers = (
        ranked.filter(F.col("_lrnk") <= k)
        .withColumn("_rnk", F.row_number().over(w_dom))
        .filter(F.col("_rnk") > k)
        .select(id_col)
    )
    losers = ranked.filter(F.col("_lrnk") > k).select(id_col).unionByName(
        global_losers
    )
    return df.join(losers, id_col, "left_anti")
