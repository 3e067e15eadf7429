"""Arrow-vectorized pandas UDFs — the ONLY Python that runs on executors.

Each UDF wraps a pure kernel from ``urltools`` / ``textextract``; everything
else in the engine is built-in Spark SQL. Per BASELINE.json ``input_hint``:
vectorized pandas/Arrow UDFs only, no per-row Python UDFs.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from playwrightcrawler_spark.functions import textextract, urltools

# --------------------------------------------------------------------------
# URL layer
# --------------------------------------------------------------------------


@pandas_udf(T.StringType())
def canonicalize_url(urls: pd.Series) -> pd.Series:
    """sanitize_url over an Arrow batch (parity kernel P1)."""
    return urls.map(urltools.sanitize_url, na_action="ignore").fillna("")


@pandas_udf(T.BooleanType())
def has_repeated_segments(urls: pd.Series) -> pd.Series:
    """Crawler-trap detector (parity kernel P4). Pre-filter cheap cases in
    SQL first: ``size(split(parse_url(url,'PATH'),'/')) > 3``."""
    return urls.map(
        lambda u: urltools.has_repeated_segments(u) if isinstance(u, str) else False
    )


# one hygiene-checked link: resolved href, its sanitize_url form, and the
# repeated-segments verdict on that form (``urltools.link_record``)
LINK_TYPE = T.StructType([
    T.StructField("raw", T.StringType()),
    T.StructField("url", T.StringType()),
    T.StructField("repeated", T.BooleanType()),
])


def _link(u):
    return urltools.link_record(u)[:3]


@pandas_udf(LINK_TYPE)
def seed_link(urls: pd.Series) -> pd.DataFrame:
    """``link_record`` over seed URLs (no parent page): the same
    (raw, url, repeated) columns the extraction UDF gives discovered links."""
    return pd.DataFrame([_link(u) for u in urls], columns=LINK_TYPE.fieldNames())


@pandas_udf(T.ArrayType(LINK_TYPE))
def directory_tree_links(urls: pd.Series) -> pd.Series:
    """Parent-directory expansion for open-dir hunting (P16), each tree URL
    as a ``link_record``."""
    return urls.map(
        lambda u: [_link(t) for t in urltools.get_directory_tree(u)],
        na_action="ignore",
    )


# --------------------------------------------------------------------------
# Extraction layer (html binary → …)
# --------------------------------------------------------------------------


@pandas_udf(T.StringType())
def extract_text(html: pd.Series) -> pd.Series:
    """THE byte-identical invariant (E1): html bytes → visible text."""
    return html.map(textextract.extract_text, na_action="ignore").fillna("")


@pandas_udf(T.StringType())
def decode_text(raw: pd.Series) -> pd.Series:
    """Charset-ladder decode for text payloads (X5; reference
    handle_response chardet path, playwrightcrawler.py:5091-5097). Feed a
    when()-guarded column so only text-route rows' bytes cross the Arrow
    boundary — python UDFs are not short-circuited by F.when."""
    return raw.map(
        lambda b: textextract.detect_decode(bytes(b)), na_action="ignore"
    )


@pandas_udf(T.ArrayType(T.StringType()))
def top_words(texts: pd.Series) -> pd.Series:
    """Per-document top-24k token list (E5; Counter tiebreak parity)."""
    return texts.map(textextract.top_words, na_action="ignore")


@pandas_udf(T.BooleanType())
def fast_scan_bails(html: pd.Series) -> pd.Series:
    """Diagnostic (round-5 verdict #4): whether each page bails out of the
    fast scanner into the HTMLParser walk. Not on any hot path — bench and
    tests aggregate it into a corpus bail rate."""
    return html.map(textextract.fast_scan_bailed, na_action="ignore").fillna(False)


# --------------------------------------------------------------------------
# Convenience wrappers used by the engine
# --------------------------------------------------------------------------


_EXTRACT_ALL_SCHEMA = T.StructType([
    T.StructField("text_extracted", T.StringType()),
    T.StructField("words", T.ArrayType(T.StringType())),
    T.StructField("links", T.ArrayType(LINK_TYPE)),
    T.StructField("emails", T.ArrayType(T.StringType())),
    T.StructField("isopendir", T.BooleanType()),
    T.StructField("opendir_pattern", T.StringType()),
])


def _extract_page_row(raw, url, route: str = "html"):
    """THE per-page extraction kernel, shared by ``extract_all`` and
    ``extract_all_routed`` so the invariant path and the wave hot path
    cannot drift (round-5 verdict #2 / advice: the two UDFs used to carry
    separate copies of this body).

    html (default) route — fused E1+E2/E5+E4+E6+U1+U3+P1+P4: ONE decode +
    ONE DOM walk produces text, word list and the open-dir verdict; each
    harvested href then goes through ``urltools.page_links`` (resolve,
    mailto split, sanitize, repeated-segments check), so discovered links
    leave the wave's single Arrow crossing ready for the JVM-side hygiene
    filters. Parser selection is shared with ``extract_text`` via
    ``textextract.parse_html`` (bs4 when installed, fast-scan/stdlib
    walker here).

    plain_text route — charset-ladder decode (X5) + top_words, exactly the
    column pipeline it replaced: substring(decode,1,MAX) then top_words of
    the TRUNCATED text; null bytes → null text/words.
    """
    if route == "plain_text":
        if raw is None:
            return (None, None, [], [], False, "")
        text = textextract.detect_decode(bytes(raw))[: textextract.config.MAX_WEBCONTENT_SIZE]
        return (text, textextract.top_words(text), [], [], False, "")
    content = textextract.decode_html(raw)
    if not content:
        return ("", [], [], [], False, "")
    parts, hrefs = textextract.parse_html(content)
    stripped = [t.strip() for t in parts]
    text = " ".join(t for t in stripped if t)[: textextract.config.MAX_WEBCONTENT_SIZE]
    words = textextract.top_words(" ".join(parts))
    links, emails = urltools.page_links(url, hrefs)
    od_flag, od_pat = textextract.is_open_directory(content, url or "")
    return (text, words, links, emails, od_flag, od_pat)


@pandas_udf(_EXTRACT_ALL_SCHEMA)
def extract_all(html: pd.Series, urls: pd.Series) -> pd.DataFrame:
    """Fused single-parse extraction over html rows (no routing) — thin
    Arrow wrapper over ``_extract_page_row``; the crawl hot path uses the
    routed variant below, same kernel."""
    rows = [_extract_page_row(raw, url) for raw, url in zip(html, urls)]
    return pd.DataFrame(rows, columns=_EXTRACT_ALL_SCHEMA.fieldNames())


@pandas_udf(_EXTRACT_ALL_SCHEMA)
def extract_all_routed(html: pd.Series, urls: pd.Series, routes: pd.Series) -> pd.DataFrame:
    """Route-aware fused extraction: html rows take the DOM walk,
    plain_text rows the charset-ladder decode + top_words — so the ENTIRE
    wave needs exactly one Arrow crossing and the downstream crawled-commit
    stage is pure JVM (the two per-write-task python nodes the
    when()-guarded decode/top_words columns used to cost dominated the
    commit at fine scan-split counts). Per-page semantics live in
    ``_extract_page_row``."""
    rows = [
        _extract_page_row(raw, url, route)
        for raw, url, route in zip(html, urls, routes)
    ]
    return pd.DataFrame(rows, columns=_EXTRACT_ALL_SCHEMA.fieldNames())


def with_extraction(df, html_col: str = "html", url_col: str = "url",
                    route_col: str | None = None):
    """Append text/words/links/emails/opendir columns via the fused single-parse
    UDF (one Arrow transfer of ``html``, one HTMLParser walk per page).
    With ``route_col`` the route-aware UDF also folds the plain-text
    decode into the same crossing. The struct is bound to a column first
    so the plan holds exactly one ArrowEvalPython node — field access
    never re-invokes the UDF."""
    if route_col is not None:
        ex = extract_all_routed(F.col(html_col), F.col(url_col), F.col(route_col))
    else:
        ex = extract_all(F.col(html_col), F.col(url_col))
    out = df.withColumn("_ex", ex)
    for field in _EXTRACT_ALL_SCHEMA.fieldNames():
        out = out.withColumn(field, F.col(f"_ex.{field}"))
    return out.drop("_ex")
