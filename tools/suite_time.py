#!/usr/bin/env python3
"""Sum the ScalaTest suite times of the last `sbt test` run.

Reads the JUnit XML reports sbt writes (`target/test-reports/*.xml` by
default), prints the summed suite time, the test/failure counts and the
slowest suites. The summed time is the suite-time figure to compare
across changes; wall time also depends on sbt start-up and compilation.

    python3 tools/suite_time.py [report_dir] [--top N]
"""
import argparse
import glob
import os
import sys
import xml.etree.ElementTree as ET


def suites(report_dir):
    """(name, seconds, tests, failures + errors) per suite report."""
    out = []
    for path in sorted(glob.glob(os.path.join(report_dir, "*.xml"))):
        root = ET.parse(path).getroot()
        for s in ([root] if root.tag == "testsuite" else root.iter("testsuite")):
            out.append((s.get("name", os.path.basename(path)),
                        float(s.get("time", 0) or 0),
                        int(s.get("tests", 0) or 0),
                        int(s.get("failures", 0) or 0) + int(s.get("errors", 0) or 0)))
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("report_dir", nargs="?", default="target/test-reports")
    ap.add_argument("--top", type=int, default=10, help="slowest suites to list")
    args = ap.parse_args()
    rows = suites(args.report_dir)
    if not rows:
        sys.exit(f"no suite reports under {args.report_dir}")
    total = sum(r[1] for r in rows)
    print(f"total {total:.1f} s over {len(rows)} suites, "
          f"{sum(r[2] for r in rows)} tests, {sum(r[3] for r in rows)} failed")
    for name, secs, tests, failed in sorted(rows, key=lambda r: -r[1])[:args.top]:
        print(f"{secs:8.1f} s  {100 * secs / total:5.1f}%  {tests:4d} tests  {name}"
              + (f"  ({failed} failed)" if failed else ""))


if __name__ == "__main__":
    main()
