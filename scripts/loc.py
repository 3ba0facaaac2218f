"""Raw and code-only line counts per Python file.

    python scripts/loc.py FILE [FILE ...]

Code-only lines hold at least one token that is not a comment, a
docstring or layout (blank lines, indentation); a multi-line string
that is not a docstring counts every line it spans. A docstring is a
string statement that stands alone after a newline or an indent."""
import sys
import tokenize

SKIP = {tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
        tokenize.DEDENT, tokenize.ENDMARKER}

total_raw = total_code = 0
for path in sys.argv[1:]:
    with open(path, "rb") as f:
        toks = list(tokenize.tokenize(f.readline))[1:]  # drop ENCODING
    code, prev = set(), tokenize.NEWLINE
    for i, t in enumerate(toks):
        nxt = toks[i + 1].type if i + 1 < len(toks) else tokenize.ENDMARKER
        doc = (t.type == tokenize.STRING and nxt == tokenize.NEWLINE
               and prev in (tokenize.NEWLINE, tokenize.INDENT,
                            tokenize.DEDENT))
        if t.type not in SKIP and not doc:
            code.update(range(t.start[0], t.end[0] + 1))
        if t.type not in (tokenize.COMMENT, tokenize.NL):
            prev = t.type
    raw = toks[-1].start[0] - 1 if toks else 0
    total_raw, total_code = total_raw + raw, total_code + len(code)
    print(f"{raw:7d} {len(code):7d}  {path}")
print(f"{total_raw:7d} {total_code:7d}  total (raw, code-only)")
