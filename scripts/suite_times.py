#!/usr/bin/env python3
"""Per-suite test time and test count from sbt's JUnit XML reports.

Usage (from the repository root, after a test run):

    scripts/suite_times.py [REPORT_DIR]

REPORT_DIR defaults to target/test-reports. Reads every TEST-*.xml there
and prints one line per suite (seconds, tests, failures+errors, name),
slowest first, then the subtotal of the `Lake*` suites and the total.
Suite time is the `time` attribute sbt writes per suite: the time spent
inside that suite's tests, not the wall time of the whole run.
"""
import glob
import os
import sys
import xml.etree.ElementTree as ET


def suites(report_dir):
    """(name, seconds, tests, failed) for every report in `report_dir`."""
    out = []
    for path in sorted(glob.glob(os.path.join(report_dir, "TEST-*.xml"))):
        root = ET.parse(path).getroot()
        # a report holds one <testsuite>, or a <testsuites> wrapping some
        for s in ([root] if root.tag == "testsuite" else root.iter("testsuite")):
            name = s.get("name", os.path.basename(path))
            out.append((name.rsplit(".", 1)[-1],
                        float(s.get("time", 0) or 0),
                        int(s.get("tests", 0) or 0),
                        int(s.get("failures", 0) or 0) +
                        int(s.get("errors", 0) or 0)))
    return out


def main():
    report_dir = sys.argv[1] if len(sys.argv) > 1 else "target/test-reports"
    rows = suites(report_dir)
    if not rows:
        sys.exit(f"suite_times: no TEST-*.xml reports in {report_dir}")
    print(f"{'seconds':>9} {'tests':>6} {'failed':>6}  suite")
    for name, secs, tests, failed in sorted(rows, key=lambda r: -r[1]):
        print(f"{secs:9.1f} {tests:6d} {failed:6d}  {name}")

    def total(label, rs):
        print(f"{sum(r[1] for r in rs):9.1f} {sum(r[2] for r in rs):6d} "
              f"{sum(r[3] for r in rs):6d}  {label} ({len(rs)} suites)")

    print()
    total("Lake*", [r for r in rows if r[0].startswith("Lake")])
    total("total", rows)


if __name__ == "__main__":
    main()
