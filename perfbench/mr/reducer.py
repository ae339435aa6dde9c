"""Word-count reducer under the argv contract: `reducer.py <in-file> <out-file>`.

Sums the mapper's `word count` lines and writes `word total`, sorted by word.
"""
import sys
from collections import Counter


def main():
    src, dst = sys.argv[1], sys.argv[2]
    totals = Counter()
    with open(src, encoding="utf-8") as f:
        for line in f:
            word, n = line.split()
            totals[word] += int(n)
    with open(dst, "w", encoding="utf-8") as f:
        for word in sorted(totals):
            f.write(f"{word} {totals[word]}\n")


if __name__ == "__main__":
    main()
