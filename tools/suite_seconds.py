#!/usr/bin/env python3
"""Per-suite seconds of the last sbt test run.

Usage: python3 tools/suite_seconds.py [reports dir]

Sums the JUnit reports sbt writes (default: target/test-reports/TEST-*.xml)
into one line per suite: seconds, tests, failed tests (failures + errors)
and the suite name, slowest first. The last line gives the totals: suites,
tests, failed tests and seconds.
"""
import glob
import os
import signal
import sys
import xml.etree.ElementTree as ET


def suites(reports):
    """[(seconds, tests, failed, name)] of every <testsuite> in the reports."""
    rows = []
    for path in sorted(glob.glob(os.path.join(reports, "TEST-*.xml"))):
        root = ET.parse(path).getroot()
        for s in ([root] if root.tag == "testsuite" else root.iter("testsuite")):
            failed = int(s.get("failures", 0)) + int(s.get("errors", 0))
            rows.append((float(s.get("time", 0)), int(s.get("tests", 0)), failed, s.get("name", path)))
    return rows


def main(argv):
    reports = argv[1] if len(argv) > 1 else os.path.join("target", "test-reports")
    rows = sorted(suites(reports), reverse=True)
    if not rows:
        sys.exit(f"no TEST-*.xml under {reports}")
    for seconds, tests, failed, name in rows:
        print(f"{seconds:9.1f} s  {tests:4d} tests  {failed:3d} failed  {name}")
    print(f"total: {len(rows)} suites, {sum(r[1] for r in rows)} tests, "
          f"{sum(r[2] for r in rows)} failed, {sum(r[0] for r in rows):.1f} s")


if __name__ == "__main__":
    signal.signal(signal.SIGPIPE, signal.SIG_DFL)  # quiet under `| head`
    main(sys.argv)
