"""The ASCII case fold (dedup.alnum_lower_sql) equals Spark's lower() and
DuckDB's LOWER on everything the dedup strips leave: the fold is only
applied after a regexp_replace has cut the text down to [A-Za-z0-9] plus
ASCII whitespace (or plus space alone)."""

from __future__ import annotations

import duckdb

from unipdf_spark.operators.dedup import NORM_HASH_SQL, alnum_lower_sql

_STRINGS = [
    # every C0 control but NUL, all of ASCII, all of Latin-1 (NBSP included)
    "".join(map(chr, range(1, 0x100))),
    # dotted capital I, dotless i, sharp s, final sigma
    "\u0130stanbul \u0130I \u0131\u0131 Stra\u00dfe STRASSE "
    "\u039f\u0394\u039f\u03a3 \u03c3\u03bf\u03c6\u03cc\u03c2",
    "\uff21\uff22\uff23 \uff46\uff55\uff4c\uff4c \uff10\uff19",  # fullwidth
    "Cafe\u0301 n\u0303o A\u030a x\u0307\u0323",  # combining marks
    "emoji \U0001f600 \U0001f44d\U0001f3fd \U0001f1e9\U0001f1ea "
    "\U0001f468\u200d\U0001f469\u200d\U0001f467",
    "nbsp\u00a0line\u2028para\u2029tab\tCR\rLF\nVT\x0bFF\x0cend",
    "",
]
# the strips before each fold: dedup.NORM_HASH_SQL's, doc_fingerprints'
_KEEPS = {r"\\s": r"\s", " ": " "}
# raw text whose case mapping changes its length or is not one-to-one:
# dotted capital I, final sigma, sharp s, titlecase dz, the fi ligature,
# fullwidth letters around an ideographic space, emoji, and VT (Java's \s)
_RAW = [
    "\u0130stanbul \u0130I",
    "\u039f\u0394\u039f\u03a3 \u03c3\u03bf\u03c6\u03cc\u03c2",
    "Stra\u00dfe \u00df",
    "\u01c5emal \u01c4 \u01c6",
    "\ufb01le \ufb01",
    "\uff21\u3000\uff22",
    "\U0001f600 \U0001f44d\U0001f3fd x",
    "a\x0bb c",
]


def test_ascii_fold_equals_lower_after_strip(spark):
    rows = list(enumerate(_STRINGS))
    df = spark.createDataFrame(rows, "id int, text string")
    con = duckdb.connect()
    con.execute("CREATE TABLE t (id INT, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    for keep, duck_keep in _KEEPS.items():
        strip = f"regexp_replace(text, '[^A-Za-z0-9{keep}]', ' ')"
        got = {r.id: (r.lowered, r.folded) for r in df.selectExpr(
            "id", f"lower({strip}) AS lowered",
            f"{alnum_lower_sql(keep)} AS folded").collect()}
        duck = dict(con.execute(
            "SELECT id, LOWER(REGEXP_REPLACE(text, '[^A-Za-z0-9"
            f"{duck_keep}]', ' ', 'g')) FROM t").fetchall())
        for i, s in rows:
            lowered, folded = got[i]
            assert folded == lowered, (keep, s)
            # Java's \s holds VT (U+000B), RE2's does not: DuckDB strips it
            # to a space that Spark keeps until the \s+ collapse
            assert duck[i] == (lowered.replace("\x0b", " ")
                               if keep == r"\\s" else lowered), (keep, s)
            assert set(folded) <= set("abcdefghijklmnopqrstuvwxyz0123456789"
                                      " \t\n\x0b\x0c\r"), (keep, s)
    # the whole normalized hash equals the oracle's (dedup.DEDUP_NORM_SQL)
    norm = {r.id: r.h for r in df.selectExpr(
        "id", f"{NORM_HASH_SQL} AS h").collect()}
    duck = dict(con.execute(r"""
        SELECT id, MD5(TRIM(REGEXP_REPLACE(
            LOWER(REGEXP_REPLACE(text, '[^A-Za-z0-9\s]', ' ', 'g')),
            '\s+', ' ', 'g'))) FROM t""").fetchall())
    assert norm == duck


def test_token_count_needs_no_lower(spark):
    """textops.corpus_cleanup's n_tokens splits the raw text on \\s+ with
    no lower(): lowercasing maps no character to or from ASCII
    whitespace, or to nothing, so the count is the same either way."""
    rows = list(enumerate(_STRINGS + _RAW))
    count = r"size(filter(split({}, '\\s+'), x -> x != ''))"
    got = spark.createDataFrame(rows, "id int, text string").selectExpr(
        "id", f"{count.format('lower(text)')} AS lowered",
        f"{count.format('text')} AS raw").collect()
    assert len(got) == len(rows)
    for r in got:
        assert r.raw == r.lowered, rows[r.id]
