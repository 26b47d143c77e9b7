"""Count the code lines of Python files.

A line counts when a code token starts on it or spans it.  Blank lines,
comments and docstrings (a string literal that is a statement on its
own) do not count, so the figure moves only when code does.

Usage: python tools/code_lines.py FILE [FILE ...]
Prints one ``count path`` line per file and a ``count total`` line.
"""

from __future__ import annotations

import sys
import tokenize

_SKIP = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENCODING,
    tokenize.ENDMARKER,
}
# after these, a string literal starts a statement (a docstring when
# the statement ends right after it)
_STMT_START = {tokenize.NEWLINE, tokenize.INDENT, tokenize.DEDENT, tokenize.ENCODING}


def code_lines(path: str) -> int:
    with open(path, "rb") as f:
        toks = list(tokenize.tokenize(f.readline))
    lines = set()
    prev = tokenize.ENCODING
    for i, tok in enumerate(toks):
        if tok.type in _SKIP:
            if tok.type not in (tokenize.NL, tokenize.COMMENT):
                prev = tok.type
            continue
        j = i + 1
        while toks[j].type in (tokenize.NL, tokenize.COMMENT):
            j += 1
        docstring = (
            tok.type == tokenize.STRING
            and prev in _STMT_START
            and toks[j].type in (tokenize.NEWLINE, tokenize.ENDMARKER)
        )
        if not docstring:
            lines.update(range(tok.start[0], tok.end[0] + 1))
        prev = tok.type
    return len(lines)


def main(paths: list[str]) -> int:
    if not paths:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    total = 0
    for p in paths:
        n = code_lines(p)
        total += n
        print(f"{n:7d} {p}")
    print(f"{total:7d} total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
