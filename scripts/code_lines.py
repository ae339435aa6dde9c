"""Count total, blank, comment and code lines of Scala sources.

    python3 scripts/code_lines.py            # src/main/**/*.scala of this checkout
    python3 scripts/code_lines.py ROOT ...   # any dirs or .scala files

A line is CODE when it holds anything outside a comment (string
contents count, and so does every line inside a multi-line string), a
COMMENT line when it holds only comment text (`//`, or `/* */` blocks,
nested as Scala nests them), and BLANK otherwise. `//` and `/*` inside
string literals, interpolations (`s"${...}"`) and char literals are
string content, not comments. Prints one line:
`total=N blank=N comment=N code=N`.
"""
import os
import sys


def classify(text):
    """Per-line kinds ("blank", "comment", "code") of one Scala source."""
    kinds = []
    # context stack: ("code", brace_depth) | ("str", triple, interpolated)
    stack = [("code", 0)]
    block = 0  # block-comment nesting depth
    for line in text.split("\n"):
        has_code = stack[-1][0] == "str" and stack[-1][1]  # inside a """ string
        has_comment = block > 0
        i, n = 0, len(line)
        while i < n:
            ch = line[i]
            if block > 0:
                has_comment = True
                if line.startswith("*/", i):
                    block -= 1
                    i += 2
                elif line.startswith("/*", i):
                    block += 1
                    i += 2
                else:
                    i += 1
                continue
            top = stack[-1]
            if top[0] == "str":
                has_code = True
                _, triple, interp = top
                if triple and line.startswith('"""', i):
                    # a run of more than three quotes ends on its last three
                    j = i
                    while j < n and line[j] == '"':
                        j += 1
                    stack.pop()
                    i = j
                elif not triple and ch == "\\":
                    i += 2
                elif not triple and ch == '"':
                    stack.pop()
                    i += 1
                elif interp and line.startswith("$$", i):
                    i += 2
                elif interp and line.startswith("${", i):
                    stack.append(("code", 1))
                    i += 2
                else:
                    i += 1
                continue
            # code context
            if line.startswith("//", i):
                has_comment = True
                break
            if line.startswith("/*", i):
                block += 1
                has_comment = True
                i += 2
                continue
            if ch.isspace():
                i += 1
                continue
            has_code = True
            if ch == '"':
                interp = i > 0 and (line[i - 1].isalnum() or line[i - 1] == "_")
                if line.startswith('"""', i):
                    stack.append(("str", True, interp))
                    i += 3
                else:
                    stack.append(("str", False, interp))
                    i += 1
            elif ch == "'":
                # char literal: 'x' or an escape like '\'' / '\u0001'
                if i + 2 < n and line[i + 1] != "\\" and line[i + 2] == "'":
                    i += 3
                elif i + 1 < n and line[i + 1] == "\\":
                    j = line.find("'", i + 3)
                    i = j + 1 if j > 0 else n
                else:
                    i += 1
            elif ch == "{" and len(stack) > 1:
                stack[-1] = ("code", top[1] + 1)
                i += 1
            elif ch == "}" and len(stack) > 1:
                if top[1] == 1:
                    stack.pop()  # back into the interpolated string
                else:
                    stack[-1] = ("code", top[1] - 1)
                i += 1
            else:
                i += 1
        # a single-line string cannot cross a line end
        while stack[-1][0] == "str" and not stack[-1][1]:
            stack.pop()
        kinds.append("code" if has_code else "comment" if has_comment else "blank")
    if text.endswith("\n"):
        kinds.pop()  # the empty piece after the final newline is not a line
    return kinds


def scala_files(paths):
    for p in paths:
        if os.path.isfile(p):
            yield p
            continue
        for root, _, files in os.walk(p):
            for f in sorted(files):
                if f.endswith(".scala"):
                    yield os.path.join(root, f)


def count(paths):
    totals = {"total": 0, "blank": 0, "comment": 0, "code": 0}
    for f in scala_files(paths):
        with open(f, encoding="utf-8") as fh:
            for k in classify(fh.read()):
                totals[k] += 1
                totals["total"] += 1
    return totals


def main(argv):
    paths = argv or [os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "src", "main")]
    t = count(paths)
    print("total={total} blank={blank} comment={comment} code={code}".format(**t))


if __name__ == "__main__":
    main(sys.argv[1:])
