"""No package module repeats a 100-token window found elsewhere in the
package.

A fragment copied between queries drifts: a fix lands in one copy and
not the others.  The scan compares every window of ``WINDOW`` code
tokens.  Comments, docstrings, multi-line string literals (the oracle
SQL) and layout tokens are skipped; each string literal reads as ``S``
and each number as ``N``, so copies that differ only in a column name
literal or a constant still match.  Windows are compared by a rolling
hash and only hash-equal windows are compared token by token.
"""

from __future__ import annotations

import ast
import collections
import io
import pathlib
import tokenize

PKG = pathlib.Path(__file__).resolve().parents[1] / "decisions_kinesis_spark"
WINDOW = 100
_LAYOUT = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENCODING,
    tokenize.ENDMARKER,
}
_MOD = (1 << 61) - 1
_BASE = 1_000_003


def _code_tokens(src: str) -> list[tuple[str, int, int]]:
    """(normalized text, first row, last row) of each code token."""
    bare_strings = {
        (node.lineno, node.col_offset)
        for node in ast.walk(ast.parse(src))
        if isinstance(node, ast.Expr)
        and isinstance(node.value, ast.Constant)
        and isinstance(node.value.value, str)
    }
    out = []
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type in _LAYOUT:
            continue
        text = tok.string
        if tok.type == tokenize.STRING:
            if tok.start in bare_strings or tok.start[0] != tok.end[0]:
                continue
            text = "S"
        elif tok.type == tokenize.NUMBER:
            text = "N"
        out.append((text, tok.start[0], tok.end[0]))
    return out


def _copied_spans(files: dict[str, str]) -> list[tuple[str, int, int]]:
    """(file, first line, last line) of each span covered by a window
    that also occurs, without overlapping it, somewhere else."""
    ids: dict[str, int] = {}
    toks = {}
    seen = collections.defaultdict(list)
    top = pow(_BASE, WINDOW - 1, _MOD)
    for name, src in files.items():
        toks[name] = _code_tokens(src)
        seq = [ids.setdefault(t, len(ids) + 1) for t, _, _ in toks[name]]
        h = 0
        for i, v in enumerate(seq):
            if i >= WINDOW:
                h = (h - seq[i - WINDOW] * top) % _MOD
            h = (h * _BASE + v) % _MOD
            if i >= WINDOW - 1:
                seen[h].append((name, i - WINDOW + 1))
    covered = collections.defaultdict(set)
    for hits in seen.values():
        if len(hits) < 2:
            continue
        by_text = collections.defaultdict(list)
        for name, pos in hits:
            text = tuple(t for t, _, _ in toks[name][pos : pos + WINDOW])
            by_text[text].append((name, pos))
        for group in by_text.values():
            for name, pos in group:
                if any(
                    other != name or abs(p - pos) >= WINDOW for other, p in group
                ):
                    covered[name].update(range(pos, pos + WINDOW))
    spans = []
    for name, positions in covered.items():
        run = sorted(positions)
        start = prev = run[0]
        for p in run[1:] + [None]:
            if p is not None and p == prev + 1:
                prev = p
                continue
            spans.append((name, toks[name][start][1], toks[name][prev][2]))
            if p is not None:
                start = prev = p
    return sorted(spans)


def test_scan_finds_a_copy_that_differs_only_in_literals():
    def body(lit, num):
        return "".join(f"    x{i} = f(a, '{lit}', {num}) + g(b)\n" for i in range(12))

    one = "def q():\n" + body("p", 1)
    two = "import m\n\n\ndef r():\n" + body("q", 2)
    spans = _copied_spans({"one.py": one, "two.py": two, "three.py": "y = 1\n"})
    assert spans == [("one.py", 1, 13), ("two.py", 4, 16)]


def test_no_module_repeats_a_window_found_elsewhere():
    files = {
        str(path.relative_to(PKG)): path.read_text()
        for path in sorted(PKG.rglob("*.py"))
    }
    spans = _copied_spans(files)
    assert not spans, (
        f"these spans repeat a {WINDOW}-token window found elsewhere in the "
        "package; give the fragment one definition:\n"
        + "\n".join(f"{name}:{first} (through line {last})" for name, first, last in spans)
    )
