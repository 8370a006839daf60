"""Self-tests for tools/nbnc.py: python3 -m unittest discover -s tools -p 'test_nbnc.py'"""
import os
import subprocess
import sys
import tempfile
import textwrap
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import nbnc  # noqa: E402


FIXTURE = textwrap.dedent('''\
    package demo

    // a line comment
    /** A scaladoc block
      * spanning lines. */
    object Demo {
      /* a block comment */
      val a = 1 // trailing comment: the line still counts

      /* opens here
         and closes mid-line */ val b = 2
      /* closes at the end */
      val url = "http://example.com/*not a comment*/" // the string ends
      val c = '/'
      /* outer /* nested */ still comment */
      val s = """a triple-quoted
        // this is string content, not a comment
        string"""
    }
    ''')


class NbncTest(unittest.TestCase):

    def test_fixture_counts_each_comment_form(self):
        # code lines: package, object, val a, the mid-line close with
        # val b, val url, val c, the three triple-quoted lines, `}`
        self.assertEqual(nbnc.nbnc_lines(FIXTURE), 10)

    def test_blank_and_comment_only_text_counts_zero(self):
        self.assertEqual(nbnc.nbnc_lines("\n  \n// x\n/** y\n  */\n"), 0)

    def test_block_closing_mid_line_counts_code_after_it(self):
        self.assertEqual(nbnc.nbnc_lines("/* a\n b */ x\n"), 1)
        self.assertEqual(nbnc.nbnc_lines("/* a\n b */\n"), 0)

    def test_comment_markers_inside_strings_do_not_open_comments(self):
        self.assertEqual(nbnc.nbnc_lines('val p = "a//b"\nval q = 1\n'), 2)
        self.assertEqual(nbnc.nbnc_lines('val p = "/*"\nval q = 1\n'), 2)
        self.assertEqual(nbnc.nbnc_lines('val e = "\\"/*"\nval q = 1\n'), 2)

    def test_escaped_character_literal(self):
        self.assertEqual(nbnc.nbnc_lines("val c = '\\''\nval d = 1\n"), 2)

    def test_cli_prints_per_file_counts_and_total(self):
        with tempfile.TemporaryDirectory() as d:
            for name, body in (("A.scala", FIXTURE), ("B.scala", "val x = 1\n"),
                               ("skip.txt", "not scala\n")):
                with open(os.path.join(d, name), "w") as fh:
                    fh.write(body)
            out = subprocess.run(
                [sys.executable, os.path.join(os.path.dirname(
                    os.path.abspath(__file__)), "nbnc.py"), d],
                check=True, capture_output=True, text=True).stdout.split("\n")
            self.assertTrue(out[0].split()[0] == "10" and
                            out[0].endswith("A.scala"), out)
            self.assertTrue(out[1].split()[0] == "1" and
                            out[1].endswith("B.scala"), out)
            self.assertEqual(out[2].split(), ["11", "total"])


if __name__ == "__main__":
    unittest.main()
