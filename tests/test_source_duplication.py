"""One job, one implementation: no window of 10 code lines occurs twice
in the package. A copied query kernel drifts from its twin (one copy
keeps a step the other proved redundant), so a shared job lives in one
helper that every query calls.

The scan reads each ``trialstreamer_spark/**/*.py`` file as its code
lines: blank and comment lines, docstrings and string literals that
span more than one line (the DuckDB oracle text) are skipped, and runs
of whitespace collapse to one space. Any 10 consecutive code lines that
occur again, in the same file or another, fail the test."""

from __future__ import annotations

import glob
import io
import os
import tokenize
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WINDOW = 10

_STATEMENT_START = {tokenize.NEWLINE, tokenize.INDENT, tokenize.DEDENT}
_FSTRING_START = getattr(tokenize, "FSTRING_START", None)
_FSTRING_END = getattr(tokenize, "FSTRING_END", None)


def _string_spans(src: str):
    """(first line, last line, is a docstring) of each string literal.
    An f-string tokenizes as one STRING token before Python 3.12 and as
    FSTRING_START ... FSTRING_END after."""
    toks = [
        t
        for t in tokenize.generate_tokens(io.StringIO(src).readline)
        if t.type not in (tokenize.NL, tokenize.COMMENT)
    ]
    opened = []
    for i, t in enumerate(toks):
        if t.type == _FSTRING_START:
            opened.append(i)
            continue
        if t.type == _FSTRING_END:
            first = opened.pop()
        elif t.type == tokenize.STRING and not opened:
            first = i
        else:
            continue
        before = toks[first - 1].type if first else tokenize.NEWLINE
        after = toks[i + 1].type
        doc = before in _STATEMENT_START and after in (
            tokenize.NEWLINE,
            tokenize.ENDMARKER,
        )
        yield toks[first].start[0], t.end[0], doc


def code_lines(path: str) -> list[tuple[int, str]]:
    """(line number, whitespace-collapsed text) of each code line."""
    with open(path, encoding="utf-8") as f:
        src = f.read()
    skip = set()
    for first, last, doc in _string_spans(src):
        if doc or last > first:
            skip.update(range(first, last + 1))
    return [
        (n, " ".join(line.split()))
        for n, line in enumerate(src.splitlines(), 1)
        if line.strip() and not line.strip().startswith("#") and n not in skip
    ]


def repeated_windows(paths) -> dict[tuple, list[tuple[str, int]]]:
    """Each code window that occurs twice or more → its (path, first
    line) occurrences."""
    seen = defaultdict(list)
    for path in paths:
        lines = code_lines(path)
        for i in range(len(lines) - WINDOW + 1):
            window = tuple(text for _, text in lines[i : i + WINDOW])
            seen[window].append((os.path.relpath(path, ROOT), lines[i][0]))
    return {w: occ for w, occ in seen.items() if len(occ) > 1}


def test_scan_skips_docstrings_comments_and_multiline_strings(tmp_path):
    body = "\n".join(f"    x{i} = f(x{i - 1})" for i in range(1, WINDOW + 1))
    src = (
        "def a():\n"
        '    """Doc."""\n'
        "    # note\n"
        f"{body}\n"
        '    sql = """\n    SELECT 1\n    """\n'
        "\n"
        "def b():\n"
        f"{body.replace('    ', '  ')}\n"
    )
    path = tmp_path / "m.py"
    path.write_text(src)
    texts = [text for _, text in code_lines(str(path))]
    assert texts[:2] == ["def a():", "x1 = f(x0)"]
    assert "sql = \"\"\"" not in texts and "SELECT 1" not in texts
    (occ,) = repeated_windows([str(path)]).values()
    assert [line for _, line in occ] == [4, 19]


def test_no_code_window_occurs_twice():
    pattern = os.path.join(ROOT, "trialstreamer_spark", "**", "*.py")
    paths = sorted(glob.glob(pattern, recursive=True))
    assert paths
    repeated = repeated_windows(paths)
    where = sorted({f"{p}:{n}" for occ in repeated.values() for p, n in occ})
    assert not repeated, (
        f"{len(repeated)} {WINDOW}-line code windows occur twice or more; "
        f"fold each copy into one shared helper. Window starts: {where}"
    )
