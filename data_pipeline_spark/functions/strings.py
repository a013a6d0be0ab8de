"""String / URI / identifier scalar functions (SURVEY §2.8 F8–F13, F25).

All pure Column expressions — they stay inside whole-stage codegen, so at
100TB these are free riders on the scan. Reference semantics:
clean_names `process/base/reconciler.py:58-59`, normalize_url
`sources/lux/final/mapper.py:713-718`, identifier fix
`pipeline/config.py:171-186`, canonicalize `config.py:230-245`,
qua algebra `config.py:130-145` (all file:line into /root/reference).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# zero-width + bidi control characters stripped from reconcile join keys
_CTRL_CLASS = r"[\x{200B}-\x{200F}\x{202A}-\x{202E}\x{FEFF}]"

# The one whitespace class every tokenizer, fingerprint and collapse
# splits on, in Spark and in the DuckDB oracles alike: Java's \s matches
# \x0b where RE2's does not, so the class is spelled out (property-tested
# against the oracle on pathological corpora, tests/test_properties.py).
WS = r"[ \t\n\f\r]+"


def words(col: Column, lower: bool) -> Column:
    """The whitespace tokenizer: ``col`` trimmed of spaces (and
    lowercased when ``lower``), split on WS."""
    return F.split(F.lower(F.trim(col)) if lower else F.trim(col), WS)


# Spark's trim strips only ' '; DuckDB's one-argument trim also strips
# U+00A0 and the other Unicode space separators, so every twin names ' '
def words_sql(expr: str, lower: bool) -> str:
    """DuckDB twin of words."""
    inner = f"lower(trim({expr}, ' '))" if lower else f"trim({expr}, ' ')"
    return f"regexp_split_to_array({inner}, '{WS}')"


def content_fp(col: Column) -> Column:
    """The d02 content fingerprint: md5 of the lowercased, trimmed text
    with every whitespace run collapsed to one space."""
    return F.md5(F.regexp_replace(F.lower(F.trim(col)), WS, " "))


def content_fp_sql(expr: str) -> str:
    """DuckDB twin of content_fp."""
    return f"md5(regexp_replace(lower(trim({expr}, ' ')), '{WS}', ' ', 'g'))"


def clean_name(col: Column) -> Column:
    """F8: strip zero-width/bidi controls, collapse whitespace, lower, trim
    — the canonical reconcile name key."""
    no_ctrl = F.regexp_replace(col, _CTRL_CLASS, "")
    one_space = F.regexp_replace(no_ctrl, WS, " ")
    return F.lower(F.trim(one_space))


def normalize_url(col: Column) -> Column:
    """F10: default scheme to https, strip `www.`, strip trailing `/` —
    the webpage-dedupe key (A10)."""
    with_scheme = F.when(col.rlike(r"^https?://"), col).otherwise(F.concat(F.lit("https://"), col))
    https = F.regexp_replace(with_scheme, r"^http://", "https://")
    no_www = F.regexp_replace(https, r"^https://www\.", "https://")
    return F.regexp_replace(no_www, r"/$", "")


def fix_identifier(col: Column) -> Column:
    """F12: strip spaces/quotes, trailing `/` and `.html` from source
    identifiers before caching/joining."""
    no_junk = F.regexp_replace(col, r"""[\s'"]+""", "")
    no_ext = F.regexp_replace(no_junk, r"\.html$", "")
    return F.regexp_replace(no_ext, r"/$", "")


def canonicalize_uri(col: Column, rewrites: dict[str, str] | None = None) -> Column:
    """F13: apply a rewrite table (old-prefix -> new-prefix), longest match
    first, then identifier cleanup. ``rewrites`` is a plain dict baked into
    the plan as a literal when-chain (bounded, config-driven)."""
    out = fix_identifier(col)
    for old, new in sorted((rewrites or {}).items(), key=lambda kv: -len(kv[0])):
        out = F.when(out.startswith(old), F.concat(F.lit(new), F.substring(out, len(old) + 1, 10_000_000))).otherwise(out)
    return out


def make_qua(uri: Column, rectype: Column) -> Column:
    """F25: the `uri##quaType` suffix algebra. The engine keeps (uri,
    rectype) as two columns (SURVEY §1.5) — this is the boundary codec for
    interop with reference-shaped data."""
    return F.concat(uri, F.lit("##qua"), rectype)


def split_qua(qua: Column) -> tuple[Column, Column]:
    """Inverse of make_qua: returns (uri, rectype) columns."""
    uri = F.regexp_extract(qua, r"^(.*?)##qua", 1)
    uri = F.when(qua.contains("##qua"), uri).otherwise(qua)
    rectype = F.regexp_extract(qua, r"##qua(.*)$", 1)
    rectype = F.when(qua.contains("##qua"), rectype).otherwise(F.lit(None).cast("string"))
    return uri, rectype


def wikimedia_filename(col: Column) -> Column:
    """F11 (sources/lux/final/mapper.py:105-122 in /root/reference): the
    canonical filename key of a wikimedia Special:FilePath access point —
    the J11 license-lookup join key.  Steps: take the segment after the
    last '/', strip a trailing ``?width=n`` (raw or %3F-encoded,
    case-insensitive), '%20'->underscore (ONLY the encoded form — the
    reference leaves literal spaces for quote() to percent-encode), trim,
    and percent-encode IF not already encoded (the reference's conditional
    quote(); JVM-side url_encode, which differs from Python quote() only
    on '~'/'*' — no wikimedia filename in the corpus uses either — and on
    space, which url_encode emits as '+' so it is rewritten to '%20';
    safe because a literal '+' encodes to '%2B' first)."""
    fn = F.regexp_extract(col, r"([^/]*)$", 1)
    fn = F.regexp_replace(fn, r"\?.*$", "")
    fn = F.regexp_replace(fn, r"(?i)%3fwidth=.*$", "")
    fn = F.trim(F.regexp_replace(fn, r"%20", "_"))
    encoded = F.regexp_replace(F.url_encode(fn), r"\+", "%20")
    return F.when(fn.contains("%"), fn).otherwise(encoded)


def normalize_wikimedia_url(col: Column) -> Column:
    """F11 full access-point normalization: non-wikimedia URLs pass
    through; Special:FilePath URLs get https, a lowercased path (the
    endpoint is case-insensitive) and the canonical filename."""
    is_wm = F.lower(col).contains("commons.wikimedia.org/wiki/special:filepath")
    https = F.regexp_replace(col, r"^http://", "https://")
    path = F.lower(F.regexp_extract(https, r"^(.*)/[^/]*$", 1))
    return F.when(is_wm, F.concat(path, F.lit("/"), wikimedia_filename(https))).otherwise(col)


# F15: ISO 639-2 (both bibliographic and terminological variants) ->
# ISO 639-1 two-letter codes (process/base/mapper.py:47-112 in
# /root/reference — the reference's lang_three_to_two table).
LANG_THREE_TO_TWO: dict[str, str] = {
    "por": "pt", "deu": "de", "ger": "de", "eng": "en", "fra": "fr",
    "fre": "fr", "spa": "es", "zho": "zh", "chi": "zh", "hin": "hi",
    "afr": "af", "alb": "sq", "sqi": "sq", "ara": "ar", "bul": "bg",
    "bos": "bs", "cat": "ca", "ben": "bn", "rus": "ru", "nld": "nl",
    "dut": "nl", "fin": "fi", "ile": "is", "gle": "ga", "ita": "it",
    "fas": "fa", "per": "fa", "guj": "gu", "kor": "ko", "lat": "la",
    "lit": "lt", "mac": "mk", "mkd": "mk", "jpn": "ja", "hrv": "hr",
    "ces": "cs", "cze": "cs", "dan": "da", "ell": "el", "gre": "el",
    "kat": "ka", "geo": "ka", "heb": "he", "hun": "hu", "nor": "no",
    "pol": "pl", "ron": "ro", "rum": "ro", "slk": "sk", "slo": "sk",
    "slv": "sl", "srp": "sr", "swe": "sv", "tur": "tr", "cym": "cy",
    "wel": "cy", "urd": "ur", "swa": "sw", "ind": "id", "tel": "te",
    "tam": "ta", "tha": "th", "mar": "mr", "pan": "pa",
}


def normalize_lang(col: Column) -> Column:
    """F15: language URI/code -> ISO 639-1 two-letter code.

    Takes the trailing 2-or-3-letter segment of a language URI (or a bare
    code), lowercases it, and maps 3-letter ISO 639-2 codes (both /B and /T
    variants) through LANG_THREE_TO_TWO; 2-letter codes pass through;
    unknown 3-letter codes pass through unchanged (the reference's
    dict.get(code, code)).  Pure map literal — stays in codegen."""
    tail = F.lower(F.regexp_extract(col, r"([A-Za-z]{2,3})$", 1))
    kv: list[Column] = []
    for three, two in LANG_THREE_TO_TWO.items():
        kv.extend([F.lit(three), F.lit(two)])
    mapped = F.element_at(F.create_map(*kv), tail)
    return F.when(F.length(tail) == 2, tail).otherwise(F.coalesce(mapped, tail))


def sql_normalize_lang(expr: str) -> str:
    """DuckDB twin of normalize_lang, generated from the SAME dict so the
    two sides cannot drift."""
    whens = " ".join(
        f"WHEN '{three}' THEN '{two}'" for three, two in LANG_THREE_TO_TWO.items()
    )
    tail = f"lower(regexp_extract({expr}, '([A-Za-z]{{2,3}})$', 1))"
    return (
        f"CASE WHEN length({tail}) = 2 THEN {tail} "
        f"ELSE (CASE {tail} {whens} ELSE {tail} END) END"
    )


def strip_html(col: Column) -> Column:
    """F14 (subset): remove tags and unescape the common entities — the
    declarative fast path of the reference's BeautifulSoup strip
    (marklogic/mapper.py:138-148); full entity fidelity would be a UDF."""
    no_tags = F.regexp_replace(col, r"<[^>]*>", " ")
    amp = F.regexp_replace(no_tags, r"&amp;", "&")
    lt = F.regexp_replace(amp, r"&lt;", "<")
    gt = F.regexp_replace(lt, r"&gt;", ">")
    nbsp = F.regexp_replace(gt, r"&nbsp;", " ")
    return F.trim(F.regexp_replace(nbsp, WS, " "))
