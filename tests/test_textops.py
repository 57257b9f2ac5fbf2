"""Structure checks of operators/textops.py: each shared corpus
statistic is built in one helper. AST only; needs no Spark session."""

from __future__ import annotations

import ast
import pathlib


def _ngram_sites(path=None) -> dict[str, list[str]]:
    """Top-level function of every occurrence, in source order, of:
    a ``word_ngram_rows(..., n=2)`` call (the bigram table); a string
    holding the Kneser-Ney numerator ``4 * c2 - 3``; the ``"r_all"``
    flag of the rule battery; and a function that calls both
    ``posexplode`` and ``lead`` (the window route to bigrams)."""
    import iceberg_diag_spark

    path = path or (
        pathlib.Path(iceberg_diag_spark.__file__).parent
        / "operators"
        / "textops.py"
    )
    tree = ast.parse(pathlib.Path(path).read_text())
    sites: dict[str, list[str]] = {
        "bigram_rows": [], "kn_seen": [], "r_all": [], "window_bigrams": [],
    }

    def ident(n):
        return getattr(n, "attr", None) or getattr(n, "id", None)

    for top in tree.body:
        where = getattr(top, "name", "<module>")
        called = set()
        for n in ast.walk(top):
            if isinstance(n, ast.Call):
                called.add(ident(n.func))
                if ident(n.func) == "word_ngram_rows" and any(
                    k.arg == "n" and getattr(k.value, "value", None) == 2
                    for k in n.keywords
                ):
                    sites["bigram_rows"].append(where)
            if isinstance(n, ast.Constant) and isinstance(n.value, str):
                if "4 * c2 - 3" in n.value:
                    sites["kn_seen"].append(where)
                if n.value == "r_all":
                    sites["r_all"].append(where)
        if {"posexplode", "lead"} <= called:
            sites["window_bigrams"].append(where)
    return sites


def test_ngram_statistics_built_once():
    """The bigram table, the Kneser-Ney seen-bigram expression and the
    per-source rule battery are each written once, and no operator
    builds bigrams with a posexplode + lead() window."""
    assert _ngram_sites() == {
        "bigram_rows": ["_bigram_table"],
        "kn_seen": ["<module>"],
        "r_all": ["_rule_battery"],
        "window_bigrams": [],
    }
