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

    def test_dups_count_lines_of_repeated_long_windows(self):
        block = "".join(f"  val v{i} = compute(\"a fairly long argument {i}\")\n"
                        for i in range(6))
        other = "object B {\n  // differently indented copy\n" + \
            block.replace("  val", "      val") + "  val tail = 0\n}\n"
        self.assertEqual(loc.duplicate_lines(["object A {\n" + block + "}\n",
                                              other]), 12)
        # a single occurrence is not a duplicate
        self.assertEqual(loc.duplicate_lines([block]), 0)

    def test_dups_skip_short_and_import_only_windows(self):
        short = "val x = 1\n" * 6
        self.assertEqual(loc.duplicate_lines([short, short]), 0)
        imports = "".join(f"import org.apache.spark.sql.functions.f{i}_long_name\n"
                          for i in range(6))
        self.assertEqual(loc.duplicate_lines(["package p\n" + imports] * 2), 0)

    def test_dups_ignore_comments(self):
        block = "".join(f"val v{i} = compute(\"a fairly long argument {i}\")\n"
                        for i in range(6))
        commented = block.replace("\n", "\n// note\n", 2).replace(
            "val v3", "/* c */ val v3")
        self.assertEqual(loc.duplicate_lines([block, commented]), 12)

    def test_main_dups_flag(self):
        block = "".join(f"val v{i} = compute(\"a fairly long argument {i}\")\n"
                        for i in range(6))
        with tempfile.TemporaryDirectory() as d:
            for name in ("A.scala", "B.scala"):
                with open(os.path.join(d, name), "w") as fh:
                    fh.write(block)
            out = io.StringIO()
            with contextlib.redirect_stdout(out):
                self.assertEqual(loc.main(["--dups", d]), 0)
            self.assertEqual(out.getvalue().strip(), "12")


if __name__ == "__main__":
    unittest.main()
