"""Tests for loc.py.

    python3 -m unittest discover -s tools -p 'test_*.py'
"""
import contextlib
import io
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import loc  # noqa: E402

SRC = """package a

/** Scaladoc,
  * two lines. */
object A {
  // a line comment
  val x = 1 /* inline block */ + 2

  /* block
     over lines */ val y = 3
}
"""


class Loc(unittest.TestCase):
    def test_code_lines_strip_comments_and_blanks(self):
        # package, object, val x, the tail of the block line, closing brace
        self.assertEqual(loc.code_lines(SRC), 5)

    def test_empty_and_comment_only(self):
        self.assertEqual(loc.code_lines(""), 0)
        self.assertEqual(loc.code_lines("// x\n\n/* y */\n"), 0)

    def test_main_sums_scala_files_under_a_dir(self):
        with tempfile.TemporaryDirectory() as d:
            os.makedirs(os.path.join(d, "p"))
            for name in ("A.scala", os.path.join("p", "B.scala")):
                with open(os.path.join(d, name), "w") as fh:
                    fh.write(SRC)
            with open(os.path.join(d, "notes.txt"), "w") as fh:
                fh.write("val ignored = 1\n")
            out = io.StringIO()
            with contextlib.redirect_stdout(out):
                self.assertEqual(loc.main([d]), 0)
            self.assertEqual(out.getvalue().strip(), "10")

    def test_total_is_comma_grouped(self):
        with tempfile.TemporaryDirectory() as d:
            with open(os.path.join(d, "Big.scala"), "w") as fh:
                fh.write("val x = 1\n" * 1234)
            out = io.StringIO()
            with contextlib.redirect_stdout(out):
                loc.main([d])
            self.assertEqual(out.getvalue().strip(), "1,234")


if __name__ == "__main__":
    unittest.main()
