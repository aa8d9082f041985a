#!/usr/bin/env python3
"""Per-property wall times of the ScalaCheck suites, from a test console log.

With `-verbosity 2` (build.sbt) ScalaCheck follows each property's result
line (`+ <props>.<property>: OK, passed 100 tests.`) with
`Elapsed time: [<m> min ]<s> sec`. sbt's JUnit XML still records -0.001 s
per property, so the wall is only in the console. Usage:

    python3 tools/prop_walls.py <console.log> [--reports target/test-reports]

prints `{suite: {property: seconds}}` as JSON. The suite is the test class
the JUnit XML under --reports lists the property under (default
`target/test-reports`, when it exists); a property the reports do not list
is filed under its `Properties` name, the part before the first '.'.
"""
import argparse
import glob
import json
import os
import re
import sys
import xml.etree.ElementTree as ET

ANSI = re.compile(r"\x1b\[[0-9;]*m")
PREFIX = re.compile(r"^\[\w+\]\s?")
RESULT = re.compile(r"^[+!] (.+?): (?:OK|Falsified|Gave up|Exception)")
ELAPSED = re.compile(r"^Elapsed time: (?:(\d+) min )?(\d+(?:\.\d+)?) sec")


def suites_of(reports):
    """Property name -> test class (last dotted segment) from JUnit XML."""
    owner = {}
    for path in glob.glob(os.path.join(reports, "TEST-*.xml")):
        for case in ET.parse(path).getroot().iter("testcase"):
            owner[case.get("name")] = case.get("classname").rsplit(".", 1)[-1]
    return owner


def walls(lines, owner):
    out, prop = {}, None
    for raw in lines:
        line = PREFIX.sub("", ANSI.sub("", raw.rstrip("\n")))
        m = RESULT.match(line)
        if m:
            prop = m.group(1)
            continue
        m = ELAPSED.match(line)
        if m and prop is not None:
            secs = int(m.group(1) or 0) * 60 + float(m.group(2))
            suite = owner.get(prop, prop.split(".", 1)[0])
            out.setdefault(suite, {})[prop] = round(secs, 3)
            prop = None
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("log")
    ap.add_argument("--reports", default="target/test-reports")
    a = ap.parse_args()
    owner = suites_of(a.reports) if os.path.isdir(a.reports) else {}
    with open(a.log, errors="replace") as f:
        json.dump(walls(f, owner), sys.stdout, indent=1, ensure_ascii=False)
    print()


if __name__ == "__main__":
    main()
