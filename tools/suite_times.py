#!/usr/bin/env python3
"""Per-suite test times from sbt's JUnit reports.

Usage: python3 tools/suite_times.py [reportDir] [--slowest N]

Reads every TEST-*.xml under reportDir (default target/test-reports,
written by `sbt test`/`testOnly`), and prints one line per suite
(seconds, tests, failures+errors, skipped), slowest suite first, a
total line, and the N slowest test cases (default 10). Suite seconds
are the report's own `time` attribute, so they exclude the JVM fork
and compile that the wall time of a whole run also pays.
"""
import glob
import os
import sys
import xml.etree.ElementTree as ET


def load(report_dir):
    suites, cases = [], []
    for path in sorted(glob.glob(os.path.join(report_dir, "TEST-*.xml"))):
        root = ET.parse(path).getroot()
        for s in ([root] if root.tag == "testsuite" else root.iter("testsuite")):
            name = s.get("name", os.path.basename(path))
            bad = int(s.get("failures", 0)) + int(s.get("errors", 0))
            suites.append((float(s.get("time", 0)), name, int(s.get("tests", 0)),
                           bad, int(s.get("skipped", 0))))
            for c in s.iter("testcase"):
                cases.append((float(c.get("time", 0)), name, c.get("name", "")))
    return suites, cases


def main(argv):
    args = [a for a in argv if not a.startswith("--")]
    n = 10
    if "--slowest" in argv:
        i = argv.index("--slowest")
        n = int(argv[i + 1])
        args.remove(argv[i + 1])
    report_dir = args[0] if args else "target/test-reports"
    suites, cases = load(report_dir)
    if not suites:
        sys.exit(f"no TEST-*.xml reports under {report_dir}")
    print(f"{'seconds':>9} {'tests':>5} {'bad':>4} {'skip':>4}  suite")
    for t, name, tests, bad, skip in sorted(suites, reverse=True):
        print(f"{t:9.1f} {tests:5d} {bad:4d} {skip:4d}  {name}")
    print(f"{sum(s[0] for s in suites):9.1f} {sum(s[2] for s in suites):5d} "
          f"{sum(s[3] for s in suites):4d} {sum(s[4] for s in suites):4d}  "
          f"total ({len(suites)} suites)")
    if n > 0:
        print(f"\n{n} slowest tests:")
        for t, name, case in sorted(cases, reverse=True)[:n]:
            print(f"{t:9.1f}  {name.rsplit('.', 1)[-1]}: {case}")


if __name__ == "__main__":
    main(sys.argv[1:])
