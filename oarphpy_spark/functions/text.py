"""Text primitives shared by the dedup / text-analysis operators.

All JVM-side column expressions; any hash used for bucketing or
fingerprinting is md5-hex (string-comparable and reproducible in every
engine — the oracle can restate it). For throughput-critical paths
``F.xxhash64`` variants exist alongside (not oracle-expressible, same
semantics)."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def quote_ident(name: str) -> str:
    """``name`` as a backquoted Spark SQL identifier, safe to splice
    into a statement that ``spark.sql`` formats with its DataFrame
    arguments (braces doubled, as in ``str.format``)."""
    quoted = "`" + name.replace("`", "``") + "`"
    return quoted.replace("{", "{{").replace("}", "}}")


def norm_tokens(text) -> Column:
    """Lowercased whitespace tokens of a text column."""
    return F.split(F.lower(text), " ", -1)


def norm_tokens_sql(text_sql: str) -> str:
    """:func:`norm_tokens` as SQL text over the expression ``text_sql``."""
    return f"split(lower({text_sql}), ' ', -1)"


def shingles(tokens, n: int = 3) -> Column:
    """Word n-gram shingles (space-joined). Documents with fewer than
    ``n`` tokens yield a single shingle of the whole token list."""
    count = F.size(tokens) - (n - 1)
    return F.when(
        count >= 1,
        F.transform(
            F.sequence(F.lit(1), count),
            lambda i: F.concat_ws(" ", F.slice(tokens, i, n)),
        ),
    ).otherwise(F.array(F.concat_ws(" ", tokens)))


def shingles_sql(tokens_sql: str, n: int = 3) -> str:
    """:func:`shingles` as SQL text over the token-array expression
    ``tokens_sql``: the same CASE over the same functions, for plans
    written as one statement."""
    count = f"size({tokens_sql}) - {n - 1}"
    return (
        f"CASE WHEN {count} >= 1 THEN transform(sequence(1, {count}), "
        f"sh_i -> concat_ws(' ', slice({tokens_sql}, sh_i, {n}))) "
        f"ELSE array(concat_ws(' ', {tokens_sql})) END"
    )


def md5_str(col) -> Column:
    """Lowercase md5 hex of a string column (engine-portable hash)."""
    return F.md5(col.cast("binary"))


def md5_str_sql(x_sql: str) -> str:
    """:func:`md5_str` as SQL text over the expression ``x_sql``."""
    return f"md5(CAST({x_sql} AS BINARY))"


def token_md5s(tokens) -> Column:
    """md5 hex per token (hash once, reuse across bit positions)."""
    return F.transform(tokens, lambda t: md5_str(t))
