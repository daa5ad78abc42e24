"""Main-content extraction (boilerplate removal) — the jusText/
readability-style stage between raw HTML and the text column of a
training corpus, distilled to a deterministic, cross-engine-checkable
core. Pure Catalyst: script/style removal, block-tag splitting, and
per-block classification all run as array higher-order functions
inside codegen — no Python in the hot path.

Per-block signals (the standard ones):
  * text length after tag stripping + whitespace collapse;
  * LINK DENSITY, measured without nested aggregation as
    ``len(text) - len(text with <a> spans removed)`` — anchor-heavy
    nav/footer blocks score high, body paragraphs low.
A block is content iff it is long enough AND its link length is at
most a third of its text (jusText's context-free pass); with
``context=True`` the neighbor-smoothing second pass also keeps SHORT
low-link blocks adjacent to good ones (pull-quotes), as one extra
index-transform. Regex patterns stay in the Java-regex/RE2 common
subset (no backreferences, no lookaround) so the DuckDB oracle runs
the IDENTICAL strings.

Entities are NOT decoded here (DuckDB has no unescape); run
sources.warc.html_to_text downstream when entity fidelity matters.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: block-level boundary tags (open or close) — the split delimiters
BLOCK_RE = (r"(?i)</?(?:p|div|h1|h2|h3|h4|h5|h6|ul|ol|li|table|tr|td"
            r"|br|section|article|nav|footer|header|blockquote)[^>]*>")
_SCRIPT_RE = r"(?is)<script[^>]*>.*?</script>"
_STYLE_RE = r"(?is)<style[^>]*>.*?</style>"
_ANCHOR_RE = r"(?is)<a[^>]*>.*?</a>"
_TAG_RE = r"<[^>]+>"
_WS_RE = r"\s+"

MIN_LEN = 40  # minimum block text length to qualify as content


def _clean(c: Column) -> Column:
    return F.trim(F.regexp_replace(
        F.regexp_replace(c, _TAG_RE, " "), _WS_RE, " "))


def extract_main_content(df: DataFrame, html_col: str = "html_text",
                         min_len: int = MIN_LEN,
                         context: bool = False,
                         short_min: int = 10) -> DataFrame:
    """Adds per-document ``n_blocks``, ``n_good``, ``content``
    (newline-joined content blocks) and ``content_len``.

    ``context=True`` adds jusText's neighbor-smoothing second pass:
    a SHORT block (short_min <= len < min_len, low link density)
    inherits good-ness from an adjacent context-free-good block —
    pull-quotes and one-line paragraphs between body paragraphs
    survive, while short nav/footer fragments (bad neighbors) stay
    out. One extra index-transform over the staged array; neighbor
    lookups use element_at on a plain column attribute, which the
    optimizer cannot inline into an O(n²) re-evaluation."""
    stripped = F.regexp_replace(
        F.regexp_replace(F.col(html_col), _SCRIPT_RE, " "),
        _STYLE_RE, " ")
    # stage the split in its own projection (the documented Catalyst
    # HOF-inlining trap: an array expr re-evaluated per element)
    staged = df.withColumn("_blocks", F.split(stripped, BLOCK_RE))
    low_ld = (lambda s: (F.length(s["text"]) - F.length(s["nolink"]))
              * F.lit(3) <= F.length(s["text"]))
    scored = staged.withColumn("_scored", F.filter(
        F.transform(
            F.col("_blocks"),
            lambda b: F.struct(
                _clean(b).alias("text"),
                _clean(F.regexp_replace(b, _ANCHOR_RE, " "))
                .alias("nolink"))),
        lambda s: s["text"] != F.lit("")))
    scored = scored.withColumn("_flag", F.transform(
        F.col("_scored"),
        lambda s: F.struct(
            s["text"].alias("text"),
            ((F.length(s["text"]) >= F.lit(min_len))
             & low_ld(s)).alias("good"),
            ((F.length(s["text"]) >= F.lit(short_min))
             & (F.length(s["text"]) < F.lit(min_len))
             & low_ld(s)).alias("short"))))
    if context:
        n = F.size("_flag")
        flag = F.col("_flag")
        keep = F.transform(
            F.sequence(F.lit(1), n),
            lambda i: F.struct(
                F.element_at(flag, i.cast("int"))["text"]
                .alias("text"),
                (F.element_at(flag, i.cast("int"))["good"]
                 | (F.element_at(flag, i.cast("int"))["short"]
                    & (F.when(i > 1,
                              F.coalesce(
                                  F.element_at(flag,
                                               (i - 1).cast("int"))
                                  ["good"], F.lit(False)))
                       .otherwise(F.lit(False))
                       | F.coalesce(
                        F.when(i < n, F.element_at(
                            flag, (i + 1).cast("int"))["good"]),
                        F.lit(False)))))
                .alias("good")))
        scored = scored.withColumn("_flag", keep)
    good = F.filter(F.col("_flag"), lambda s: s["good"])
    return (scored
            .withColumn("n_blocks", F.size("_flag"))
            .withColumn("_good", good)
            .withColumn("n_good", F.size("_good"))
            .withColumn("content", F.array_join(
                F.transform(F.col("_good"), lambda s: s["text"]),
                "\n"))
            .withColumn("content_len", F.length("content"))
            .drop("_blocks", "_scored", "_flag", "_good"))


def content_sql(html_expr: str, min_len: int = MIN_LEN) -> dict:
    """The same pipeline as DuckDB SQL fragments: returns exprs for
    n_blocks, n_good, content, content_len over ``html_expr``."""
    stripped = (f"regexp_replace(regexp_replace({html_expr}, "
                f"'{_SCRIPT_RE}', ' ', 'g'), '{_STYLE_RE}', ' ', 'g')")
    blocks = f"regexp_split_to_array({stripped}, '{BLOCK_RE}')"

    def clean(e):
        return (f"trim(regexp_replace(regexp_replace({e}, "
                f"'{_TAG_RE}', ' ', 'g'), '{_WS_RE}', ' ', 'g'))")

    scored = (f"list_filter(list_transform({blocks}, b -> "
              f"struct_pack(text := {clean('b')}, nolink := "
              f"{clean(f'''regexp_replace(b, '{_ANCHOR_RE}', ' ', 'g')''')})"
              f"), s -> s.text <> '')")
    good = (f"list_filter({scored}, s -> length(s.text) >= {min_len} "
            f"AND (length(s.text) - length(s.nolink)) * 3 "
            f"<= length(s.text))")
    # DuckDB's array_to_string([]) is NULL where Spark's array_join
    # yields '' — coalesce so a doc with zero good blocks still
    # hash-matches the Spark side.
    content = (f"coalesce(array_to_string(list_transform({good}, "
               f"s -> s.text), chr(10)), '')")
    return dict(n_blocks=f"len({scored})", n_good=f"len({good})",
                content=content, content_len=f"length({content})")


def content_context_sql(html_expr: str, min_len: int = MIN_LEN,
                        short_min: int = 10) -> dict:
    """SQL fragments mirroring the context=True pass: per-block
    good/short flags, then neighbor smoothing via 1-based list
    indexing (out-of-range -> NULL -> coalesce false, matching the
    Spark guards)."""
    stripped = (f"regexp_replace(regexp_replace({html_expr}, "
                f"'{_SCRIPT_RE}', ' ', 'g'), '{_STYLE_RE}', ' ', 'g')")
    blocks = f"regexp_split_to_array({stripped}, '{BLOCK_RE}')"

    def clean(e):
        return (f"trim(regexp_replace(regexp_replace({e}, "
                f"'{_TAG_RE}', ' ', 'g'), '{_WS_RE}', ' ', 'g'))")

    scored = (f"list_filter(list_transform({blocks}, b -> "
              f"struct_pack(text := {clean('b')}, nolink := "
              f"{clean(f'''regexp_replace(b, '{_ANCHOR_RE}', ' ', 'g')''')})"
              f"), s -> s.text <> '')")
    low = ("(length(s.text) - length(s.nolink)) * 3 "
           "<= length(s.text)")
    flag = (f"list_transform({scored}, s -> struct_pack("
            f"text := s.text, "
            f"good := length(s.text) >= {min_len} AND {low}, "
            f"short := length(s.text) >= {short_min} "
            f"AND length(s.text) < {min_len} AND {low}))")
    keep = (f"(SELECT list_transform(range(1, len(f) + 1), i -> "
            f"struct_pack(text := f[i].text, "
            f"good := f[i].good OR (f[i].short AND "
            f"(coalesce(f[i - 1].good, false) "
            f"OR coalesce(f[i + 1].good, false))))) "
            f"FROM (SELECT {flag} AS f))")
    good = f"list_filter({keep}, s -> s.good)"
    content = (f"coalesce(array_to_string(list_transform({good}, "
               f"s -> s.text), chr(10)), '')")
    return dict(n_blocks=f"len({keep})", n_good=f"len({good})",
                content=content, content_len=f"length({content})")


def site_template_clean(df, host_col: str = "host",
                        id_col: str = "doc_id",
                        text_col: str = "text",
                        threshold: float = 0.5):
    """Per-SITE template removal (the host-scoped stage between
    corpus-wide paragraph dedup and per-page boilerplate stripping):
    a line appearing in more than ``threshold`` of a host's documents
    is site chrome (nav, footer, cookie banner) and is stripped from
    every page of that host — while the same line on another host
    survives, which is exactly what corpus-global dedup gets wrong
    about small sites.

    Plan: posexplode lines -> distinct (host, doc, line) counts ->
    per-host doc totals -> template line set (tiny: lines crossing the
    threshold) -> anti-join back -> order-preserving reassembly via
    array_sort over (pos, line) structs. Counts are integers, so the
    threshold decision is exact on both engines.

    Returns (id_col, host_col, n_lines, n_removed, clean_hash)."""
    from pyspark.sql import functions as F
    lines = (df.select(
        id_col, host_col,
        F.posexplode(F.filter(F.split(F.col(text_col), "\n"),
                              lambda s: F.trim(s) != ""))
        .alias("pos", "line")))
    lh = lines.withColumn("lhash", F.md5(F.trim("line")))
    per_line = (lh.select(host_col, id_col, "lhash").distinct()
                .groupBy(host_col, "lhash")
                .agg(F.count(F.lit(1)).alias("ndocs")))
    host_docs = (df.select(host_col, id_col).distinct()
                 .groupBy(host_col)
                 .agg(F.count(F.lit(1)).alias("total")))
    template = (per_line.join(host_docs, host_col)
                .filter(F.col("ndocs") > threshold * F.col("total"))
                .select(host_col, "lhash"))
    kept = lh.join(template, [host_col, "lhash"], "left_anti")
    totals = (lh.groupBy(id_col, host_col)
              .agg(F.count(F.lit(1)).alias("n_lines")))
    re = (kept.groupBy(id_col, host_col)
          .agg(F.count(F.lit(1)).alias("n_kept"),
               F.array_join(
                   F.transform(
                       F.array_sort(F.collect_list(
                           F.struct(F.col("pos"), F.col("line")))),
                       lambda s: s["line"]),
                   "\n").alias("clean")))
    return (totals.join(re, [id_col, host_col], "left")
            .select(id_col, host_col, "n_lines",
                    (F.col("n_lines")
                     - F.coalesce("n_kept", F.lit(0)))
                    .alias("n_removed"),
                    F.md5(F.coalesce("clean", F.lit("")))
                    .alias("clean_hash")))
