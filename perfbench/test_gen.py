#!/usr/bin/env python3
"""Tests of the benchmark's input generators: the same seed gives an
identical table, a different seed a different one, and the parquet table the
engine reads equals the edges the oracle regenerates.

    python3 perfbench/test_gen.py      # from the root of a graft checkout
"""
import os
import shutil
import subprocess
import sys
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import run  # noqa: E402


class GeneratorTest(unittest.TestCase):
    def test_tables_follow_the_seed(self):
        build.build()
        work = os.path.join(build.build_dir(), "work", f"gencheck-{os.getpid()}")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(os.path.join(work, "tmp"))
        opens = [x for p in run.ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
        try:
            r = subprocess.run(
                ["java", "-Xmx1g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
                 "-Dlog4j2.configurationFile=" + os.path.join(build.HERE, "log4j2.properties"),
                 *opens, "-cp", build.classpath(), "graftbench.GenCheck", work],
                stdout=subprocess.PIPE, text=True, timeout=300)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        print(r.stdout, end="")
        checks = [l for l in r.stdout.splitlines() if l.startswith(("ok", "FAIL"))]
        self.assertEqual(r.returncode, 0, r.stdout)
        self.assertEqual(len(checks), 8)
        self.assertTrue(all(l.startswith("ok") for l in checks), r.stdout)


if __name__ == "__main__":
    unittest.main()
