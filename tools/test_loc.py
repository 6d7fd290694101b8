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

    def test_dups_count_lines_of_a_repeated_token_window(self):
        # 6 lines of 13 tokens: 78 tokens, so 19 repeated 60-token windows
        block = "".join(f"  val v{i} = compute(\"a fairly long argument {i}\")\n"
                        for i in range(6))
        a = "object A\n" + block + "}\n"
        b = "object B\n  // differently indented copy\n" + \
            block.replace("  val", "      val") + "  val tail = 0\n"
        self.assertEqual(loc.duplicate_runs([a, b]),
                         {0: [2, 3, 4, 5, 6, 7], 1: [3, 4, 5, 6, 7, 8]})
        self.assertEqual(loc.duplicate_lines([a, b]), 12)
        # a single occurrence is not a duplicate
        self.assertEqual(loc.duplicate_lines([block]), 0)

    def test_dups_count_a_copy_with_other_line_breaks(self):
        sql = "".join(f"  |  sum(CASE WHEN grp = {i} THEN cents END) AS s{i},\n"
                      for i in range(6))
        wrapped = "val q = s\"\"\"SELECT " + \
            " ".join(l.strip().lstrip("|") for l in sql.splitlines()) + \
            "\"\"\".stripMargin\n"
        original = "val q = s\"\"\"SELECT\n" + sql + "  |\"\"\".stripMargin\n"
        # the one-line copy counts once; all 6 margin lines of the original
        # (and the opening line, which its windows reach) count
        self.assertEqual(loc.duplicate_runs([original, wrapped]),
                         {0: list(range(1, 9)), 1: [1]})

    def test_dups_skip_short_and_header_windows(self):
        short = "val x = 1\n" * 4
        self.assertEqual(loc.duplicate_lines([short, short]), 0)
        imports = "".join(f"import org.apache.spark.sql.functions.{{f{i}, g{i}}}\n"
                          for i in range(8))
        # a shared import header, then different bodies: every 60-token
        # window either touches an import line or is unique
        a = "package p\n" + imports + "object A { val a = 1 }\n"
        b = "package p\n" + imports + "object B { val b = 2 }\n"
        self.assertEqual(loc.duplicate_lines([a, b]), 0)

    def test_dups_ignore_comments(self):
        block = "".join(f"val v{i} = compute(\"a fairly long argument {i}\")\n"
                        for i in range(6))
        commented = block.replace("\n", "  // note\n", 2).replace(
            "val v3", "/* c */ val v3").replace("val v4", "// gone\nval v4")
        self.assertEqual(loc.duplicate_lines([block, commented]), 12)

    def test_runs_merge_consecutive_lines(self):
        self.assertEqual(loc.runs([1, 2, 3, 7, 9, 10]),
                         [(1, 3), (7, 7), (9, 10)])

    def test_main_dups_prints_runs_on_stderr_and_total_on_stdout(self):
        block = "".join(f"val v{i} = compute(\"a fairly long argument {i}\")\n"
                        for i in range(6))
        with tempfile.TemporaryDirectory() as d:
            for name in ("A.scala", "B.scala"):
                with open(os.path.join(d, name), "w") as fh:
                    fh.write(block)
            out, err = io.StringIO(), io.StringIO()
            with contextlib.redirect_stdout(out), \
                    contextlib.redirect_stderr(err):
                self.assertEqual(loc.main(["--dups", d]), 0)
            self.assertEqual(out.getvalue().strip(), "12")
            self.assertEqual(
                [l.rsplit(os.sep, 1)[-1] for l in err.getvalue().split()],
                ["A.scala:1-6", "B.scala:1-6"])


if __name__ == "__main__":
    unittest.main()
