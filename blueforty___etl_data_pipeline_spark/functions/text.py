"""Text-analysis scalars for large-scale training-data pipelines.

Beyond the reference surface (BASELINE.json north star): tokenization,
n-gram shingles, token counting (whitespace + BPE-ish regex), quality
features, n-gram-heuristic language ID scores, and document fingerprints.

Everything is a Column expression over ``pyspark.sql.functions`` — scan
co-located, shuffle-free, whole-stage-codegen.  Hashes are md5-derived so
they are portable across engines (the DuckDB oracle computes the identical
value), unlike ``F.hash``/``F.xxhash64`` whose algorithms differ per engine.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: BPE-ish lexer: letter runs, digit runs, single non-alnum-non-space marks.
BPEISH_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

#: Tiny per-language marker lexicons for the n-gram/stopword heuristic.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of"),
    "es": ("el", "la", "de"),
    "de": ("der", "und", "das"),
    "fr": ("le", "et", "les"),
}


def tokens_ws(text: Column) -> Column:
    """Whitespace tokenization; empty/blank input → empty array (Spark's
    split of '' yields [''], which we filter); NULL input → NULL (so
    exploding consumers emit no rows and counting consumers propagate
    NULL — the round-14 null-text contract)."""
    return F.filter(F.split(F.trim(text), r"\s+"), lambda t: t != F.lit(""))


def token_count_ws(text: Column) -> Column:
    """Whitespace token count.

    NULL-text contract (round 14): NULL in → NULL out.  ``array_size``
    propagates NULL, unlike legacy ``size`` whose non-ANSI default is
    -1 — the dominant mechanism behind the 44 engine-vs-oracle
    divergences in the round-13 null-injection audit (SQL aggregates
    and expressions propagate NULL naturally; -1 silently poisons
    sums, ratios, and filters)."""
    return F.array_size(tokens_ws(text)).cast("bigint")


def token_count_bpeish(text: Column) -> Column:
    """BPE-ish token count: letter runs + digit runs + punctuation marks,
    the standard cheap proxy for LLM token budgeting."""
    return F.regexp_count(text, F.lit(BPEISH_TOKEN_RE)).cast("bigint")


def ngrams(tokens: Column, n: int, sep: str = " ") -> Column:
    """Word n-gram shingles: array of ``n``-token substrings in order.
    ``size < n`` → empty array.

    The ``tokens`` expression is bound ONCE as a lambda variable (via a
    single-element ``transform`` wrapper) before the per-gram loop —
    otherwise Catalyst inlines the tokenizer into the inner lambda and
    HOFs (which don't codegen) re-evaluate the split per gram position:
    O(tokens²) splits per row, measured ~4× wall on corpus-wide n-gram
    counts."""

    def grams_of(arr: Column) -> Column:
        count = F.size(arr) - F.lit(n - 1)
        return F.when(count <= 0, F.array().cast("array<string>")).otherwise(
            F.transform(
                F.sequence(F.lit(1), F.greatest(count, F.lit(1))),
                lambda i: F.concat_ws(sep, F.slice(arr, i, n)),
            )
        )

    return F.flatten(F.transform(F.array(tokens), grams_of))


def punct_count(text: Column) -> Column:
    return F.regexp_count(text, F.lit(r"[^A-Za-z0-9\s]")).cast("bigint")


def quality_features(text: Column) -> dict[str, Column]:
    """Document quality signals (length / punctuation / stopword ratios),
    the usual pre-training filter inputs.  Ratios are double divisions of
    exact integer counts — deterministic across engines.

    NULL-text contract (round 14): every feature is NULL for NULL text
    (``array_size``/``length``/``regexp_count`` all propagate NULL),
    matching SQL semantics — never legacy ``size``'s -1."""
    toks = tokens_ws(text)
    n_chars = F.length(text).cast("bigint")
    n_tokens = F.array_size(toks).cast("bigint")
    n_punct = punct_count(text)
    stop = F.array(*[F.lit(w) for w in LANG_MARKERS["en"]])
    n_stop = F.array_size(
        F.filter(toks, lambda t: F.array_contains(stop, F.lower(t)))
    ).cast("bigint")
    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "avg_token_len": F.when(n_tokens > 0, (n_chars - n_tokens + 1) / n_tokens),
        "punct_ratio": F.when(n_chars > 0, n_punct / n_chars),
        "stopword_ratio": F.when(n_tokens > 0, n_stop / n_tokens),
    }


def language_scores(text: Column) -> dict[str, Column]:
    """Marker-word hit count per language (whole-word regex).  The argmax
    over these is the cheap language-ID heuristic; see
    operators/text_ops.py."""
    return {
        lang: sum(
            (
                F.regexp_count(F.lower(text), F.lit(rf"\b{w}\b")).cast("bigint")
                for w in words
            ),
            F.lit(0).cast("bigint"),
        )
        for lang, words in LANG_MARKERS.items()
    }


def normalize_text(
    text: Column,
    lowercase: bool = True,
    strip_punct: bool = False,
    collapse_ws: bool = True,
) -> Column:
    """Pre-tokenization text normalization: lowercase, optional
    punctuation stripping (punct → space so word boundaries survive),
    whitespace collapse + trim.  Pure column expressions — a map stage
    over the scan.  (Unicode NFC/NFKC is deliberately NOT offered here:
    Spark has no built-in normalizer, and a per-row Python UDF is the
    wrong cost for a 100 TB map stage — normalize at ingestion instead.)
    """
    out = text
    if lowercase:
        out = F.lower(out)
    if strip_punct:
        out = F.regexp_replace(out, r"[^a-zA-Z0-9\s]", " ")
    if collapse_ws:
        out = F.trim(F.regexp_replace(out, r"\s+", " "))
    return out


#: PII patterns applied IN ORDER (email before phone: the local part can
#: contain digit runs; IP before phone: dotted quads share digit shapes).
#: Regex syntax is restricted to the Java-regex ∩ RE2 common subset —
#: character classes, bounded repeats, word boundaries, non-capturing
#: groups — so Spark (Java) and the DuckDB oracle (RE2) match the exact
#: same spans.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("ipv4", r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    ("phone", r"\b\d{3}[-. ]\d{3}[-. ]\d{4}\b", "<PHONE>"),
)


def redact_pii(text: Column) -> Column:
    """Replace emails / SSNs / IPv4s / phone numbers with typed
    placeholder tokens — the standard scrub pass before a corpus ships
    to training.  Pure nested ``regexp_replace``: JVM-side, codegen,
    shuffle-free map stage."""
    out = text
    for _, pat, rep in PII_PATTERNS:
        out = F.regexp_replace(out, pat, rep)
    return out


def pii_count(text: Column) -> Column:
    """Total PII spans found (counted per pattern on the RAW text, so a
    span is never double-counted after its replacement token appears)."""
    return sum(
        (F.regexp_count(text, F.lit(pat)).cast("bigint") for _, pat, _ in PII_PATTERNS),
        F.lit(0).cast("bigint"),
    )


def md5_hash64(col: Column) -> Column:
    """Portable 60-bit integer hash: first 15 hex digits of md5.

    Chosen over ``xxhash64``/``F.hash`` because the value is reproducible
    in any engine with an md5 function (DuckDB oracle:
    ``CAST('0x' || substr(md5(x),1,15) AS BIGINT)``).
    """
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


#: Rolling-hash parameters.  MOD = 2^40 keeps every intermediate under
#: 2^61 (acc < 2^40, acc·MULT < 2^60, + reduced hash < 2^40) — no bigint
#: overflow in any engine, so the fold is portable to strict-overflow
#: engines like the DuckDB oracle.
FINGERPRINT_MULT = 1048573
FINGERPRINT_MOD = 1 << 40


def doc_fingerprint(text: Column, n: int = 3) -> Column:
    """Order-sensitive document fingerprint: left-fold rolling hash over
    per-TOKEN hashes — ``h = (h·1048573 + md5(token) mod 2^40) mod 2^40``.

    A content fingerprint that, unlike a raw md5 of the text, can be
    computed incrementally and compared prefix-wise; the fold is
    sequential (``F.aggregate``) so the result is deterministic.  Rolling
    over token hashes (not n-gram shingle strings) costs one md5 per
    token instead of one per shingle plus a string build — same
    order-sensitivity, ~3× less work at corpus scale.  ``n`` is kept for
    API stability and ignored.
    """
    hashes = F.transform(
        tokens_ws(text), lambda t: md5_hash64(t) % F.lit(FINGERPRINT_MOD)
    )
    return F.aggregate(
        hashes,
        F.lit(0).cast("bigint"),
        lambda acc, h: (acc * F.lit(FINGERPRINT_MULT) + h) % F.lit(FINGERPRINT_MOD),
    )


#: Entity decode order matters: ``&amp;`` must be decoded LAST, or
#: double-encoded input like ``&amp;lt;`` would decode twice.
HTML_ENTITIES: tuple[tuple[str, str], ...] = (
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),
)


def strip_html(html: Column) -> Column:
    """HTML → text extraction (the web-corpus preprocessing step): drop
    ``<script>``/``<style>``/comment blocks wholesale, strip remaining
    tags, decode the common entities, collapse whitespace.

    Pure ``regexp_replace``/``replace`` column math — scan-speed,
    shuffle-free, whole-stage-codegen.  The regexes avoid backreferences
    and lookarounds so the SAME patterns run on RE2 engines (the DuckDB
    oracle mirrors them verbatim; Java regex is a superset).  Script
    blocks are removed BEFORE tag stripping, so a bare ``<`` inside
    JavaScript can't orphan the rest of the document.
    """
    out = F.regexp_replace(html, r"(?is)<script[^>]*>.*?</script>", " ")
    out = F.regexp_replace(out, r"(?is)<style[^>]*>.*?</style>", " ")
    out = F.regexp_replace(out, r"(?s)<!--.*?-->", " ")
    out = F.regexp_replace(out, r"(?s)<[^>]+>", " ")
    for entity, ch in HTML_ENTITIES:
        out = F.replace(out, F.lit(entity), F.lit(ch))
    return F.trim(F.regexp_replace(out, r"\s+", " "))


def strip_markdown(md: Column) -> Column:
    """Markdown → text extraction (the sibling of :func:`strip_html`
    for the other half of a web/docs corpus): remove code fences and
    inline code wholesale (code is noise for language modeling of
    prose — keep it deliberately, not accidentally), unwrap links and
    images to their anchor text, drop heading/emphasis/quote/list
    markers, collapse whitespace.

    Same engine-portability contract as strip_html: no backreferences
    beyond group substitution, no lookarounds — every pattern runs
    identically on Java regex and RE2, with only the substitution
    spelling differing ($1 vs \\1), so the DuckDB oracle mirrors the
    pipeline verbatim.  Order matters and is load-bearing: fences
    before inline code, images before links (the image prefix ``!``
    would otherwise survive), markers last.
    """
    out = F.regexp_replace(md, r"(?s)```.*?```", " ")
    out = F.regexp_replace(out, r"`[^`]*`", " ")
    # image: ![alt](url) -> alt ; link: [text](url) -> text
    out = F.regexp_replace(out, r"!\[([^\]]*)\]\([^)]*\)", r"$1")
    out = F.regexp_replace(out, r"\[([^\]]*)\]\([^)]*\)", r"$1")
    # heading / quote / list markers at line starts
    out = F.regexp_replace(out, r"(?m)^\s{0,3}#{1,6}\s+", "")
    out = F.regexp_replace(out, r"(?m)^\s{0,3}>\s?", "")
    out = F.regexp_replace(out, r"(?m)^\s{0,3}[-*+]\s+", "")
    out = F.regexp_replace(out, r"(?m)^\s{0,3}\d+\.\s+", "")
    # emphasis: **x** / *x* / __x__ / _x_
    out = F.regexp_replace(out, r"\*{1,2}([^*]+)\*{1,2}", r"$1")
    out = F.regexp_replace(out, r"_{1,2}([^_]+)_{1,2}", r"$1")
    return F.trim(F.regexp_replace(out, r"\s+", " "))


#: Embedded public-suffix subset: the high-traffic entries, including
#: the multi-label and private-registry shapes that make naive
#: "last two labels" grouping wrong.  A production deployment swaps in
#: the full ~9k-rule publicsuffix.org list as a broadcast join; the
#: LOGIC (longest-suffix-wins over 1..3-label candidates) is identical.
PUBLIC_SUFFIXES = (
    "com", "org", "net", "edu", "gov", "mil", "int", "io", "ai", "co",
    "de", "fr", "jp", "cn", "ru", "br", "in", "uk", "au", "nz", "it",
    "nl", "es", "se", "ch", "info", "biz", "dev", "app",
    "co.uk", "org.uk", "ac.uk", "gov.uk", "me.uk",
    "com.au", "net.au", "org.au", "edu.au",
    "co.jp", "ne.jp", "or.jp", "ac.jp",
    "com.br", "net.br", "org.br",
    "co.in", "net.in", "org.in", "ac.in",
    "co.nz", "net.nz", "org.nz",
    "com.cn", "net.cn", "org.cn",
    # private registries (PSL private section): each customer
    # subdomain is its own registrable domain
    "github.io", "gitlab.io", "blogspot.com", "herokuapp.com",
    "s3.amazonaws.com",
)


def registrable_domain(host: Column) -> Column:
    """eTLD+1 (the "registrable domain") of a hostname — the correct
    grouping key for per-site corpus rollups, crawl budgets, and
    domain-level dedup.  Naive "last two labels" is wrong twice over:
    it merges every ``*.co.uk`` site into one, and it splits nothing
    under private registries like ``github.io`` where each subdomain
    is a distinct publisher.

    Longest-match over the embedded suffix table, evaluated entirely
    in codegen (no join, no UDF): for k = 3, 2, 1 the last-k-label
    candidate is tested against the table and the first hit wins;
    the registrable domain is one label more than the winning suffix.
    Hosts that ARE a public suffix, or single-label hosts, yield NULL
    (no registrable domain — the PSL contract).
    """
    psl = F.array(*[F.lit(s) for s in PUBLIC_SUFFIXES])
    parts = F.split(F.lower(host), r"\.")
    n = F.size(parts)

    def last_k(k: int) -> Column:
        # slice() needs a positive literal-free start; element_at-based
        # join keeps the whole thing one codegen expression
        return F.array_join(F.slice(parts, n - k + 1, k), ".")

    # longest matching suffix WINS AND STOPS: if the host itself is
    # that suffix there is no registrable domain (NULL) — falling
    # through to a shorter suffix (which would mint "co.uk" as a
    # domain) is exactly the naive bug the PSL exists to prevent
    result = None
    for k in (3, 2, 1):
        cond = (n >= k) & F.array_contains(psl, last_k(k))
        val = F.when(n >= k + 1, last_k(k + 1))
        result = (
            F.when(cond, val) if result is None else result.when(cond, val)
        )
    return result.alias("registrable_domain")


def ipv4_to_long(ip: Column) -> Column:
    """Dotted-quad IPv4 → BIGINT (null for malformed input) — pure
    codegen split/cast, the normalization every IP-range filter
    starts from."""
    parts = F.split(ip, r"\.")
    octets = [parts.getItem(i).cast("long") for i in range(4)]
    cond = F.size(parts) == 4
    for o in octets:
        cond = cond & o.isNotNull() & (o >= 0) & (o <= 255)
    val = (
        octets[0] * 16777216 + octets[1] * 65536
        + octets[2] * 256 + octets[3]
    )
    return F.when(cond, val)


#: Query parameters that carry tracking/session state, not content
#: identity — the standard strip set for URL-keyed dedup (utm_* is
#: matched as a prefix; these are exact names).
TRACKING_PARAMS = (
    "gclid", "fbclid", "msclkid", "dclid", "twclid", "igshid",
    "mc_cid", "mc_eid", "ref", "ref_src", "ref_url", "_ga", "yclid",
    "sessionid", "phpsessid", "jsessionid", "sid",
)


def canonicalize_url(url: Column) -> Column:
    """Canonical form of an http(s) URL for URL-KEYED DEDUP — the
    normalization step every crawl-corpus pipeline runs before
    grouping by URL, entirely in codegen (split / higher-order array
    functions / regexp — no UDF, so it runs at scan speed over a
    100 TB crawl table):

    - scheme and host lowercased; a leading ``www.`` label dropped
      (the near-universal duplicate publisher alias);
    - explicit default ports removed (``:80`` for http, ``:443`` for
      https); non-default ports kept;
    - fragment (``#...``) dropped — never sent to the server;
    - tracking query parameters removed: any ``utm_*`` plus the
      :data:`TRACKING_PARAMS` set (matched on the name, case-lowered);
    - surviving query parameters SORTED bytewise (param order is not
      content identity), joined with ``&``; an emptied query drops
      its ``?``;
    - trailing slash stripped from non-root paths; an empty path
      becomes ``/``.

    Non-http(s) or unparseable inputs yield NULL so callers can route
    them to a quarantine rather than dedup on garbage keys.
    """
    scheme = F.lower(F.regexp_extract(url, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    # authority = [userinfo@]host[:port]; keep userinfo out of the key
    authority = F.regexp_extract(url, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1)
    host = F.regexp_replace(
        F.lower(F.regexp_extract(authority, r"^(?:[^@]*@)?([^:]*)", 1)),
        r"^www\.",
        "",
    )
    port = F.regexp_extract(authority, r":(\d+)$", 1)
    keep_port = (
        (port != "")
        & ~((scheme == "http") & (port == "80"))
        & ~((scheme == "https") & (port == "443"))
    )
    path = F.regexp_extract(url, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    path = F.when(path == "", "/").otherwise(
        F.regexp_replace(path, r"(?<=.)/$", "")
    )
    # Anchor the query to the PRE-fragment portion: a '?' inside the
    # fragment ('https://h/p#/route?x=1', common SPA routing) is not a
    # query string, and letting it leak into the dedup key makes
    # identical pages that differ only in fragment fail to collapse.
    query = F.regexp_extract(url, r"^[^#]*?\?([^#]*)", 1)
    kept = F.array_join(
        F.array_sort(
            F.filter(
                F.split(query, "&"),
                lambda p: (p != "")
                & ~F.lower(F.regexp_extract(p, r"^([^=]*)", 1)).startswith(
                    "utm_"
                )
                & ~F.lower(F.regexp_extract(p, r"^([^=]*)", 1)).isin(
                    *TRACKING_PARAMS
                ),
            )
        ),
        "&",
    )
    canon = F.concat(
        scheme,
        F.lit("://"),
        host,
        F.when(keep_port, F.concat(F.lit(":"), port)).otherwise(""),
        path,
        F.when(kept != "", F.concat(F.lit("?"), kept)).otherwise(""),
    )
    return F.when(scheme.isin("http", "https") & (host != ""), canon)


def anonymize_ipv4_prefix(ip: Column, key: str) -> Column:
    """Prefix-preserving IPv4 pseudonymization (the Crypto-PAn
    property, realized at octet granularity with keyed-hash offsets):
    octet ``i`` is shifted by a value derived ONLY from the key and
    the preceding prefix —

        a_i = (o_i + H(key, o_1..o_{i-1})) mod 256

    so (a) equal prefixes map to equal prefixes — subnet structure,
    joins and GROUP BYs on network prefixes keep working on the
    pseudonymized column; (b) each level's mapping is a BIJECTION
    (a constant shift mod 256), so distinct addresses never collide;
    (c) without the key the mapping is as hard to invert as the hash.
    Entirely codegen (md5/conv/pmod chain) — scan-speed over a
    petabyte flow log, no UDF.

    Malformed addresses yield NULL (the ipv4_to_long contract).
    """
    parts = F.split(ip, r"\.")
    octets = [parts.getItem(i).cast("long") for i in range(4)]
    valid = F.size(parts) == 4
    for o in octets:
        valid = valid & o.isNotNull() & (o >= 0) & (o <= 255)

    anon = []
    prefix: Column = F.lit(key)
    for i in range(4):
        offset = F.conv(
            F.substring(F.md5(prefix), 1, 6), 16, 10
        ).cast("long")
        anon.append(F.pmod(octets[i] + offset, F.lit(256)))
        prefix = F.concat(
            prefix, F.lit("."), octets[i].cast("string")
        )
    joined = F.concat_ws(".", *[a.cast("string") for a in anon])
    return F.when(valid, joined)


def strip_latex(col: Column) -> Column:
    """LaTeX source → plain text, entirely in codegen regexp chains
    (scan-speed over an arXiv-scale corpus, no UDF) — the extraction
    step scientific-text pipelines run before any quality/dedup pass:

    1. comments: ``%`` to end of line (TeX comments; ``\\%`` escapes
       survive via a preceding-char class);
    2. display/inline math: ``$$…$$`` then ``$…$`` → one space (math
       is not prose — keeping it poisons n-gram statistics);
    3. ``\\begin{env}`` / ``\\end{env}`` markers drop;
    4. argument-taking formatting commands unwrap their braces
       (``\\textbf{x}`` → ``x``), applied twice so one nesting level
       of ``\\emph{\\textbf{x}}`` resolves;
    5. remaining bare commands (``\\alpha``, ``\\newline``) → space;
    6. stray braces drop, whitespace collapses, ends trim.

    Every regex stays inside the RE2-safe subset (no backreferences,
    no lookaround), so the DuckDB oracle replays the identical chain.
    """
    out = F.regexp_replace(col, r"(^|[^\\])%[^\n]*", r"$1")
    out = F.regexp_replace(out, r"\$\$[^$]*\$\$", " ")
    out = F.regexp_replace(out, r"\$[^$\n]*\$", " ")
    out = F.regexp_replace(out, r"\\(begin|end)\{[^}]*\}", " ")
    for _ in range(2):
        out = F.regexp_replace(
            out, r"\\[A-Za-z]+\*?(\[[^\]]*\])?\{([^{}]*)\}", r"$2"
        )
    out = F.regexp_replace(out, r"\\[A-Za-z]+\*?", " ")
    out = F.regexp_replace(out, r"[{}]", " ")
    out = F.regexp_replace(out, r"\s+", " ")
    return F.trim(out)
