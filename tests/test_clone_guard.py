"""Clone guard: no two kernels in the package are copies of each other.

Winnowing (Schleimer, Wilkerson and Aiken, SIGMOD 2003 — the scheme x102
runs as a query) over the whole package: every function body without its
docstring, and every string literal over ``SQL_MIN_CHARS`` characters, is
one unit. A unit's token stream is hashed in ``K``-token grams; each
window of ``W`` consecutive gram hashes keeps its minimum, so any shared
run of ``K + W - 1`` tokens yields a shared fingerprint. Two units that
share ``MIN_SHARED`` or more fingerprints are a copy: collapse them into
one builder, or allow-list the pair below with a one-line reason. A
closure is part of its enclosing function's unit, and a function is never
compared with a long literal inside it.

Standard library only, no JVM, no subprocess. Run this file as a script
to print every pair with its shared count and overlap.
"""

from __future__ import annotations

import ast
import functools
import glob
import hashlib
import io
import os
import re
import tokenize
from collections import Counter, defaultdict

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "scylladb_redpanda_cdc_spark",
)

#: Tokens per hashed gram, winnowing window, shared fingerprints that
#: make a pair, and the length from which a string literal is a unit.
K = 30
W = 10
MIN_SHARED = 8
SQL_MIN_CHARS = 300

#: (unit_a, unit_b) -> why the pair is a shared idiom, not a copy. Units
#: are ``<module>::<qualified name>``; a string literal is named after
#: its owner with ``#sql<n>`` (n-th long literal in that owner).
ALLOWED: dict[tuple[str, str], str] = {
    (
        "plans/llm_queries.py::x32_knn_join",
        "plans/llm_queries.py::x98_recall_matryoshka",
    ): "the probe-batch broadcast scoring idiom (crossJoin + self-filter +"
    " cosine select); each caller projects its own similarity columns, so a"
    " wrapper would hide nothing",
}

_SQL_TOKEN = re.compile(r"\w+|[^\w\s]")
_SKIP = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENDMARKER,
}


def _is_docstring(node: ast.AST) -> bool:
    return (
        isinstance(node, ast.Expr)
        and isinstance(node.value, ast.Constant)
        and isinstance(node.value.value, str)
    )


def _literal_text(node: ast.AST) -> str | None:
    """The text of a str constant or f-string (each replacement field
    rendered as ``{expr}``), else None."""
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        return node.value
    if isinstance(node, ast.JoinedStr):
        return "".join(
            v.value if isinstance(v, ast.Constant) else "{" + ast.unparse(v.value) + "}"
            for v in node.values
        )
    return None


def _py_tokens(lines: list[str], first: int, last: int) -> list[str]:
    src = "".join(lines[first - 1 : last])
    return [
        t.string
        for t in tokenize.generate_tokens(io.StringIO(src).readline)
        if t.type not in _SKIP
    ]


def _units(path: str) -> list[tuple[str, int, int, list[str]]]:
    """(name, first line, last line, tokens) for each unit of one module."""
    with open(path, encoding="utf-8") as f:
        src = f.read()
    lines = src.splitlines(keepends=True)
    rel = os.path.relpath(path, PKG).replace(os.sep, "/")
    units = []
    n_sql: Counter[str] = Counter()
    docstrings = set()

    def visit(node: ast.AST, owner: str, in_def: bool) -> None:
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                body = child.body
                if body and _is_docstring(body[0]):
                    docstrings.add(id(body[0].value))
                    body = body[1:]
                if in_def:  # a closure is part of its enclosing unit
                    visit(child, owner, True)
                    continue
                name = f"{owner}.{child.name}" if owner else child.name
                is_def = not isinstance(child, ast.ClassDef)
                if body and is_def:
                    toks = _py_tokens(lines, body[0].lineno, child.end_lineno)
                    units.append((f"{rel}::{name}", child.lineno, child.end_lineno, toks))
                visit(child, name, is_def)
                continue
            if isinstance(child, (ast.Assign, ast.AnnAssign)) and not owner:
                targets = child.targets if isinstance(child, ast.Assign) else [child.target]
                names = [t.id for t in targets if isinstance(t, ast.Name)]
                visit(child, names[0] if names else owner, in_def)
                continue
            text = _literal_text(child)
            if text is not None:
                if len(text) > SQL_MIN_CHARS and id(child) not in docstrings:
                    key = owner or "<module>"
                    n_sql[key] += 1
                    units.append(
                        (
                            f"{rel}::{key}#sql{n_sql[key]}",
                            child.lineno,
                            child.end_lineno,
                            _SQL_TOKEN.findall(text),
                        )
                    )
                continue  # an f-string's fields are part of the literal
            visit(child, owner, in_def)

    tree = ast.parse(src)
    if tree.body and _is_docstring(tree.body[0]):
        docstrings.add(id(tree.body[0].value))
    visit(tree, "", False)
    return units


def _fingerprints(tokens: list[str]) -> set[int]:
    hashes = [
        int.from_bytes(
            hashlib.blake2b("\x00".join(tokens[i : i + K]).encode(), digest_size=8).digest(),
            "big",
        )
        for i in range(len(tokens) - K + 1)
    ]
    if len(hashes) <= W:
        return {min(hashes)} if hashes else set()
    return {min(hashes[i : i + W]) for i in range(len(hashes) - W + 1)}


@functools.cache
def clone_pairs() -> dict[tuple[str, str], tuple[int, float]]:
    """(unit_a, unit_b) -> (shared fingerprints, shared / smaller set) for
    every non-nested pair that shares at least ``MIN_SHARED``."""
    spans = {}
    fps = {}
    for path in sorted(glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True)):
        for name, first, last, toks in _units(path):
            spans[name] = (name.split("::")[0], first, last)
            fps[name] = _fingerprints(toks)
    index = defaultdict(list)
    for name, fs in fps.items():
        for fp in fs:
            index[fp].append(name)
    shared: Counter[tuple[str, str]] = Counter()
    for names in index.values():
        for i, a in enumerate(names):
            for b in names[i + 1 :]:
                shared[tuple(sorted((a, b)))] += 1

    def nested(a: str, b: str) -> bool:
        (ma, fa, la), (mb, fb, lb) = spans[a], spans[b]
        return ma == mb and (fa <= fb <= lb <= la or fb <= fa <= la <= lb)

    return {
        pair: (n, n / min(len(fps[pair[0]]), len(fps[pair[1]])))
        for pair, n in shared.items()
        if n >= MIN_SHARED and not nested(*pair)
    }


def test_no_copied_kernels():
    """Every fingerprint-sharing pair is either collapsed or allow-listed."""
    copies = sorted(p for p in clone_pairs() if p not in ALLOWED)
    assert copies == [], "copied kernels (collapse or allow-list):\n" + "\n".join(
        f"  {a}  ~  {b}" for a, b in copies
    )


def test_allow_list_is_live_and_reasoned():
    """An allow-list entry names a pair the guard still reports and says
    why it is a shared idiom; a stale entry would hide a future copy."""
    pairs = clone_pairs()
    for pair, reason in ALLOWED.items():
        assert pair == tuple(sorted(pair)), pair
        assert pair in pairs, f"stale allow-list entry: {pair}"
        assert reason.strip(), pair


if __name__ == "__main__":
    for (a, b), (n, ov) in sorted(clone_pairs().items(), key=lambda kv: -kv[1][0]):
        mark = " " if (a, b) in ALLOWED else "*"
        print(f"{mark} {n:4d} {ov:5.2f}  {a}  ~  {b}")
