"""Word-count mapper under the argv contract: `mapper.py <in-file> <out-file>`.

Counts the words of its chunk and writes one `word count` line per distinct
word (in-mapper combining, so the single reducer process sees a few lines
per chunk instead of one line per word).
"""
import sys
from collections import Counter


def main():
    src, dst = sys.argv[1], sys.argv[2]
    counts = Counter()
    with open(src, encoding="utf-8") as f:
        for line in f:
            counts.update(line.split())
    with open(dst, "w", encoding="utf-8") as f:
        for word, n in counts.items():
            f.write(f"{word} {n}\n")


if __name__ == "__main__":
    main()
