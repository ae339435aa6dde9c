"""Unit tests of the line classifier in code_lines.py.

    python3 -m unittest discover -s scripts -p 'test_*.py'
"""
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from code_lines import classify, count  # noqa: E402


class ClassifyTest(unittest.TestCase):

    def test_blank_comment_and_code_lines(self):
        src = "\n".join([
            "package a",
            "",
            "   ",
            "// a line comment",
            "val x = 1 // trailing comment",
            "/** scaladoc",
            "  * body",
            "  */",
            "def f = 2",
        ]) + "\n"
        self.assertEqual(classify(src), [
            "code", "blank", "blank", "comment", "code",
            "comment", "comment", "comment", "code"])

    def test_slashes_inside_strings_are_not_comments(self):
        src = "\n".join([
            'val u = "http://x" + y',
            'val v = "/* not a comment */"',
            "val w = 3",
        ])
        self.assertEqual(classify(src), ["code", "code", "code"])

    def test_interpolation_with_nested_string(self):
        src = "\n".join([
            's"${xs.mkString("//")} tail"',
            "val after = 1",
        ])
        self.assertEqual(classify(src), ["code", "code"])

    def test_triple_quoted_string_spans_lines(self):
        src = "\n".join([
            'val sql = s"""SELECT 1',
            "  -- a SQL comment stays string content",
            "",
            "  // also string content",
            '  FROM t"""',
            "// now a real comment",
        ])
        self.assertEqual(classify(src),
                         ["code", "code", "code", "code", "code", "comment"])

    def test_code_after_block_comment_on_one_line(self):
        src = "\n".join([
            "/* lead */ val a = 1",
            "/* only */",
            "val b = 2 /* trailing",
            "   still comment */",
        ])
        self.assertEqual(classify(src), ["code", "comment", "code", "comment"])

    def test_nested_block_comments(self):
        src = "\n".join([
            "/* outer /* inner */",
            "   still outer */",
            "val c = 3",
        ])
        self.assertEqual(classify(src), ["comment", "comment", "code"])

    def test_char_literals_and_escapes(self):
        src = "\n".join([
            "val q = '\"' // a quote char",
            "val e = '\\'' ; val s = \"a\\\"b // in string\"",
            "// end",
        ])
        self.assertEqual(classify(src), ["code", "code", "comment"])

    def test_count_sums_over_files(self):
        with tempfile.TemporaryDirectory() as d:
            with open(os.path.join(d, "A.scala"), "w") as f:
                f.write("// c\n\nval a = 1\n")
            with open(os.path.join(d, "notes.txt"), "w") as f:
                f.write("ignored\n")
            self.assertEqual(count([d]),
                             {"total": 3, "blank": 1, "comment": 1, "code": 1})


if __name__ == "__main__":
    unittest.main()
