"""SQL-text building blocks shared by the pipeline operators.

Every higher-order or literal-list expression in pipeline/ is written as SQL
text and handed to the JVM as ONE `F.expr`/`selectExpr`, which Spark parses,
resolves and optimizes there. The Column API builds the same catalyst trees
at one py4j round trip per `F.lit` and ~90 per Python lambda given to
`F.transform`/`F.aggregate`/`F.filter` — a driver-side cost that grows with
the element count. Two type traps: a bare `4.0` is DECIMAL in Spark SQL, so
doubles carry a `D` suffix; `xxhash64` hashes by type, so seeds and band ids
are unsuffixed INT literals, as `F.lit(i)` of a small int would be.
"""

from __future__ import annotations

import math


def ident(name: str) -> str:
    """A column name as a backtick-quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def double(x: float) -> str:
    """A double as an exact SQL literal (nan, inf and -inf as string casts)."""
    x = float(x)
    return repr(x) + "D" if math.isfinite(x) else f"CAST('{x}' AS DOUBLE)"


def vector(xs) -> str:
    """SQL: array<double> literal of the doubles `xs`."""
    return "array(" + ", ".join(map(double, xs)) + ")"


def strings(xs) -> str:
    """SQL: array<string> literal of `xs`: backslash and quote escaped, and
    `$` as a unicode escape, so no `${...}` meets variable substitution."""
    return "array(" + ", ".join(
        "'" + x.replace("\\", "\\\\").replace("'", "\\'").replace("$", "\\u0024") + "'"
        for x in xs
    ) + ")"


def let(var: str, value: str, body: str) -> str:
    """SQL: `body` with the lambda variable `var` bound to `value`.

    Higher-order functions run interpreted (CodegenFallback, no
    subexpression elimination), so a lambda body that captures an expression
    re-evaluates it for EVERY array element: a captured split() made word
    shingling O(tokens²) per document, 7× slower on the bench corpus (3.7 s
    -> 0.5 s noop at 20k docs, r06). Bound as the variable of a one-element
    array transform, the value is computed once per row; values are the
    same."""
    return f"element_at(transform(array({value}), {var} -> {body}), 1)"


def word_shingles(toks: str, n: int) -> str:
    """SQL: the word n-grams of the token array `toks` (a lambda variable,
    see `let`), space-joined; a document shorter than n is one shingle."""
    return (
        f"transform(sequence(0, greatest(size({toks}) - {n}, 0)), "
        f"i -> array_join(slice({toks}, i + 1, {n}), ' '))"
    )
