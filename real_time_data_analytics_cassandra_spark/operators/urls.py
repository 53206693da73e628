"""URL canonicalization and registrable-domain extraction — the one
standard crawl-pipeline stage the text family lacked (r10 verdict
task 5; upgraded to the production shapes by r11 verdict tasks 3-4).

The testdata carries no URL column, so ``synthetic_crawl_urls``
derives a deterministic, deliberately MESSY crawl URL per document
from (doc_id, source, lang) — the same discipline as the multimodal
payloads (operators/multimodal.py::attach_binary_payload): mixed-case
hosts, www/cdn subdomains, explicit default and non-default ports,
multi-label public suffixes (co.uk / github.io), and tracking params
interleaved with real ones.  ``synthetic_percent_urls`` adds the
percent-encoding variants (unreserved escapes, mixed-case hex) that
exercise the RFC 3986 normalization path.  ``canonicalize_urls``
then does the real work with pure JVM expressions (no UDFs, the
string math stays inside whole-stage codegen):

- scheme/authority/path/query split (substring_index arithmetic);
- host lowercased, leading ``www.`` stripped;
- DEFAULT ports dropped (http:80 / https:443), explicit non-default
  ports kept;
- tracking params (``utm_*``, ``fbclid``, ``gclid``) filtered out of
  the query string with a higher-order array filter, surviving params
  kept in original order;
- RFC 3986 percent-encoding normalization over path and query:
  unreserved escapes (%41-%5A, %61-%7A, %30-%39, %2D %2E %5F %7E)
  DECODE to their characters, every other valid escape keeps the
  percent form with UPPERCASED hex, and a bare ``%`` not followed by
  two hex digits passes through untouched — so ``%7Euser`` and
  ``~user`` collapse, and ``a%2fb`` / ``a%2Fb`` collapse without
  decoding the reserved ``/``;
- registrable domain via LONGEST-SUFFIX-WINS evaluation against a
  broadcast PUBLIC-SUFFIX rule table (``_rules_by_tld``): ONE
  broadcast hash join on the host's TLD brings every rule sharing
  that TLD as an array (the fact side never shuffles) and the
  prevailing rule is picked PSL-style by expressions: a matching
  EXCEPTION rule (``!www.ck``) beats everything, else the matching
  rule with the most labels (wildcard rules like ``*.ck`` count
  their ``*``);
  registrable domain = public suffix + one label, NULL when the host
  IS a public suffix.  The bundled rule set is a deliberately small
  PSL subset (the full list is ~9k rows — same table shape, same
  joins); unlisted TLDs fall back to the implicit ``*`` rule
  (public suffix = last label).

Everything is deterministic string arithmetic, so the whole chain
carries a FULL DuckDB oracle (oracles rebuild ground truth from the
synthetic URL's construction components).  Reference parity anchor:
the reference has no URL stage at all (cassandra_subscriber.py:1-120
consumes pre-keyed events); this is part of the training-data
superset.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# PSL-syntax rule subset: plain suffixes, one wildcard rule and its
# exception, and a 4-label suffix — enough to exercise every branch
# of the longest-suffix-wins evaluation (the production swap-in is
# the full publicsuffix.org list in the same three syntaxes).
PUBLIC_SUFFIX_RULES = (
    "com",
    "org",
    "net",
    "io",
    "uk",
    "au",
    "us",
    "ck",
    "co.uk",
    "com.au",
    "github.io",
    "ma.us",
    "k12.ma.us",
    "pvt.k12.ma.us",
    "*.ck",
    "!www.ck",
)


def _parse_rule(rule: str) -> tuple[str, int, int, int, bool, int]:
    """PSL rule -> (match_text, match_k, rule_labels, ps_labels,
    is_exception, min_host_labels).

    - plain ``co.uk``: host's last 2 labels must equal the text;
      the public suffix is those 2 labels;
    - wildcard ``*.ck``: the ``*`` matches any single label, so the
      join key is the BASE (``ck``, 1 label) and the public suffix
      takes one extra (real) label; only hosts with >= 2 labels
      qualify;
    - exception ``!www.ck``: matches like a plain rule but the
      public suffix DROPS the leftmost label (www.ck itself is
      registrable)."""
    exc = rule.startswith("!")
    body = rule[1:] if exc else rule
    if body.startswith("*."):
        base = body[2:]
        match_k = base.count(".") + 1
        return (base, match_k, match_k + 1, match_k + 1, False, match_k + 1)
    match_k = body.count(".") + 1
    ps = match_k - 1 if exc else match_k
    return (body, match_k, match_k, ps, exc, match_k)


def _rules_by_tld() -> list[tuple[str, list]]:
    """Rules pre-grouped per TLD (last label of the join text) in
    PYTHON — the join side is literal, so grouping here instead of a
    Spark groupBy keeps a shuffle exchange out of every URL query
    plan, and keying by the ONE last label means the whole lookup is
    a SINGLE broadcast hash join (an earlier per-rule-width join
    chain paid one broadcast round per width — pure fixed overhead;
    see PERFNOTES.md Round 12).  Every rule sharing a TLD rides in
    the key's array — (match_text, match_k, min_host_labels,
    is_exception, rule_labels, ps_labels) — and match/validity are
    evaluated per element by expressions after the join.  The
    production PSL groups its ~9k rules under ~1.5k TLD keys the
    same way."""
    by: dict[str, list] = {}
    for r in PUBLIC_SUFFIX_RULES:
        text, k, rl, ps, exc, minl = _parse_rule(r)
        tld = text.rsplit(".", 1)[-1]
        by.setdefault(tld, []).append((text, k, minl, int(exc), rl, ps))
    return sorted((t, sorted(c)) for t, c in by.items())


# widest join key the rule table needs (labels of the longest
# match_text — wildcards join on their base)
_MAX_MATCH_K = max(_parse_rule(r)[1] for r in PUBLIC_SUFFIX_RULES)


def synthetic_crawl_urls(df: DataFrame) -> DataFrame:
    """Attach the deterministic messy ``url`` column (see module
    docstring).  Expects doc_id / source / lang columns."""
    d = F.col("doc_id")
    tld = (
        F.when(d % 5 == 0, F.lit("com"))
        .when(d % 5 == 1, F.lit("org"))
        .when(d % 5 == 2, F.lit("co.uk"))
        .when(d % 5 == 3, F.lit("github.io"))
        .otherwise(F.lit("net"))
    )
    sub = (
        F.when(d % 3 == 0, F.lit("www."))
        .when(d % 3 == 1, F.lit("cdn."))
        .otherwise(F.lit(""))
    )
    host = F.concat(sub, F.col("source"), F.lit("."), tld)
    host = F.when(d % 2 == 0, F.upper(host)).otherwise(host)
    scheme = F.when(d % 3 == 0, F.lit("http")).otherwise(F.lit("https"))
    port = (
        F.when(
            (d % 4 == 0) & (d % 3 == 0), F.lit(":80")
        )  # explicit default, http
        .when(d % 4 == 0, F.lit(":443"))  # explicit default, https
        .when(d % 4 == 1, F.lit(":8080"))  # non-default: must survive
        .otherwise(F.lit(""))
    )
    path = F.concat(
        F.lit("/"), F.col("lang"), F.lit("/doc/"), d.cast("string")
    )
    query = F.when(
        d % 2 == 0,
        F.concat(
            F.lit("?utm_source=feed&id="),
            d.cast("string"),
            F.lit("&utm_campaign=x"),
        ),
    ).otherwise(F.concat(F.lit("?id="), d.cast("string")))
    query = F.when(
        d % 7 == 0, F.concat(query, F.lit("&fbclid=abc123"))
    ).otherwise(query)
    return df.withColumn(
        "url", F.concat(scheme, F.lit("://"), host, port, path, query)
    )


def synthetic_percent_urls(df: DataFrame) -> DataFrame:
    """Attach a deterministic ``url`` column exercising the RFC 3986
    percent-normalization rules: documents of the SAME source whose
    ids share a ``div 80`` page group point at one canonical page
    but write it with different raw escapes (``%7Esec`` / ``%7esec``
    / literal ``~sec`` in the path; ``a%2fb`` / ``a%2Fb`` in the
    query — the reserved ``/`` must keep its percent form, hex
    uppercased).  The variant index rides ``doc_id div 20`` because
    the testdata assigns sources round-robin mod 20 — same-source
    ids differ by multiples of 20, so consecutive same-page ids get
    DIFFERENT spellings and the collapse is actually exercised.
    Expects doc_id / source columns."""
    v = F.expr("doc_id div 20")
    tilde = (
        F.when(v % 4 == 0, F.lit("%7Esec"))
        .when(v % 4 == 1, F.lit("%7esec"))
        .otherwise(F.lit("~sec"))
    )
    slashq = F.when(v % 2 == 0, F.lit("a%2fb")).otherwise(F.lit("a%2Fb"))
    return df.withColumn(
        "url",
        F.concat(
            F.lit("https://"),
            F.col("source"),
            F.lit(".com/"),
            tilde,
            F.lit("/p/"),
            F.expr("doc_id div 80").cast("string"),
            F.lit("?q="),
            slashq,
        ),
    )


def pct_normalize(s: Column) -> Column:
    """RFC 3986 percent-encoding normalization as pure JVM array
    expressions: split on ``%``, then every following fragment's
    leading two characters are its escape — unreserved escapes decode
    (ALPHA / DIGIT / ``-._~``), other valid escapes keep ``%`` with
    uppercased hex, and a fragment that does not start with two hex
    digits gets its ``%`` back verbatim (malformed escapes pass
    through rather than throw, the lenient-crawler convention)."""
    parts = F.split(s, "%", -1)
    head = F.element_at(parts, 1)
    tail = F.slice(parts, 2, F.greatest(F.size(parts) - 1, F.lit(0)))

    def fix(p: Column) -> Column:
        is_hex = p.rlike("^[0-9A-Fa-f]{2}")
        hex2 = F.upper(F.substring(p, 1, 2))
        n = F.conv(hex2, 16, 10).cast("int")
        unreserved = (
            ((n >= 48) & (n <= 57))
            | ((n >= 65) & (n <= 90))
            | ((n >= 97) & (n <= 122))
            | n.isin(45, 46, 95, 126)
        )
        rest = p.substr(F.lit(3), F.length(p))
        return (
            F.when(is_hex & unreserved, F.concat(F.char(n), rest))
            .when(is_hex, F.concat(F.lit("%"), hex2, rest))
            .otherwise(F.concat(F.lit("%"), p))
        )

    return F.concat(head, F.array_join(F.transform(tail, fix), ""))


def registrable_domain(
    df: DataFrame, host_col: str = "host", out_col: str = "domain"
) -> DataFrame:
    """Add ``out_col`` = the PSL registrable domain of the canonical
    (lowercase) host column, longest-suffix-wins against the
    broadcast rule table (module docstring).

    Plan shape: one label split, ONE broadcast-hash left join on the
    host's TLD (the fact side streams, never shuffles; every rule
    sharing the TLD rides the joined array), then expression-only
    evaluation: a rule matches when the host's last ``match_k``
    labels equal its text and the host clears ``min_host_labels``
    (how wildcards demand their extra real label; a host shorter
    than the rule width has a NULL last-k and never matches).
    Exceptions sort above everything via the leading struct field,
    then rule label count (the PSL prevailing-rule order)."""
    spark = df.sparkSession
    rk = spark.createDataFrame(
        _rules_by_tld(),
        "__tld string, __rules array<struct<"
        "mt:string,mk:int,minl:int,exc:int,rl:int,ps:int>>",
    )
    labels = F.split(F.col(host_col), "\\.")
    n = F.size(labels)
    work = df.withColumn("__labels", labels).withColumn("__n", n)
    lastk = {}
    for k in range(1, _MAX_MATCH_K + 1):
        lastk[k] = F.when(
            F.col("__n") >= k,
            F.concat_ws(
                ".", F.slice(F.col("__labels"), F.col("__n") - (k - 1), k)
            ),
        )
    work = work.join(
        F.broadcast(rk), lastk[1] == F.col("__tld"), "left"
    )

    def _matches(c):
        # the host's last match_k labels must equal the rule text
        # (NULL last-k when the host is shorter -> no match), and the
        # host must clear the rule's minimum label count
        text_eq = F.lit(False)
        for k in range(1, _MAX_MATCH_K + 1):
            text_eq = F.when(c["mk"] == k, lastk[k] == c["mt"]).otherwise(
                text_eq
            )
        return text_eq & (F.col("__n") >= c["minl"])

    best = F.array_max(
        F.when(
            F.col("__rules").isNotNull(),
            F.transform(
                F.filter(F.col("__rules"), _matches),
                lambda c: F.struct(
                    c["exc"].alias("exc"),
                    c["rl"].alias("rl"),
                    c["ps"].alias("ps"),
                ),
            ),
        )
    )
    ps = F.coalesce(best["ps"], F.lit(1))
    dom = F.when(
        F.col("__n") > ps,
        F.concat_ws(".", F.slice(F.col("__labels"), F.col("__n") - ps, ps + 1)),
    )
    out = work.withColumn(out_col, dom)
    return out.drop("__labels", "__n", "__tld", "__rules")


def canonicalize_urls(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Add ``canon_url`` and ``domain`` columns (see module
    docstring).  Pure JVM expressions end to end; the only joins are
    the broadcast suffix-rule lookups."""
    url = F.col(url_col)
    scheme = F.lower(F.substring_index(url, "://", 1))
    rest = url.substr(F.length(scheme) + F.lit(4), F.length(url))
    authority = F.substring_index(rest, "/", 1)
    path_q = rest.substr(F.length(authority) + F.lit(1), F.length(rest))
    path = F.substring_index(path_q, "?", 1)
    raw_query = F.when(
        path_q.contains("?"),
        path_q.substr(F.length(path) + F.lit(2), F.length(path_q)),
    ).otherwise(F.lit(""))
    host_raw = F.lower(F.substring_index(authority, ":", 1))
    host = F.when(
        host_raw.startswith("www."),
        host_raw.substr(F.lit(5), F.length(host_raw)),
    ).otherwise(host_raw)
    port = F.when(
        authority.contains(":"),
        F.substring_index(authority, ":", -1),
    ).otherwise(F.lit(""))
    keep_port = (
        (port != "")
        & ~((scheme == "http") & (port == "80"))
        & ~((scheme == "https") & (port == "443"))
    )
    kept_params = F.array_join(
        F.filter(
            F.split(raw_query, "&"),
            lambda t: ~(
                t.startswith("utm_")
                | t.startswith("fbclid=")
                | t.startswith("gclid=")
            ),
        ),
        "&",
    )
    # ONE pct_normalize over the joined path?query tail instead of
    # one per part: equivalent (a %-escape never spans the inserted
    # '?' — a fragment starting with '?' fails the two-hex-digit test
    # and passes through, exactly as a trailing bare '%' does at a
    # part boundary) and halves the normalization expression tree the
    # codegen stage has to compile (PERFNOTES.md Round 12)
    canon = F.concat(
        scheme,
        F.lit("://"),
        host,
        F.when(keep_port, F.concat(F.lit(":"), port)).otherwise(F.lit("")),
        pct_normalize(
            F.concat(
                path,
                F.when(
                    kept_params != "", F.concat(F.lit("?"), kept_params)
                ).otherwise(F.lit("")),
            )
        ),
    )
    return registrable_domain(
        df.withColumn("canon_url", canon).withColumn("__host", host),
        host_col="__host",
    ).drop("__host")
