#!/usr/bin/env python3
"""Evidence-count derivation (r10 verdict item 8): print suite/test and
gate-query counts FROM ARTIFACTS so SURVEY/README never hand-copy them
(the r9/r10 rounds each drifted by one on a hand-copied count).

  usage: python3 scripts/counts.py [verify_out_dir]

- ScalaTest: parses target/test-reports/*.xml (written by `sbt test`)
- gate queries, current source: <verify_out_dir>/oracle_sql.json when
  given (written by graft.Verify <sfDir> <outDir>; a run given a third
  argument, a comma-separated query list, lists only those queries)
- gate queries, last driver round: the newest CORRECTNESS_r*.json
"""
import glob
import json
import sys
import xml.etree.ElementTree as ET

xmls = sorted(glob.glob("target/test-reports/*.xml"))
tests = 0
bad = 0
for f in xmls:
    root = ET.parse(f).getroot()
    tests += int(root.get("tests", 0))
    bad += int(root.get("failures", 0)) + int(root.get("errors", 0))
print(f"scalatest: {tests} tests / {len(xmls)} suites, {bad} failures+errors")

rounds = sorted(glob.glob("CORRECTNESS_r*.json"))
if rounds:
    d = json.load(open(rounds[-1]))
    green = sum(1 for v in d.values() if v.get("hash_match"))
    print(f"{rounds[-1]}: {len(d)} queries, {green} hash-green")

if len(sys.argv) > 1:
    o = json.load(open(f"{sys.argv[1]}/oracle_sql.json"))
    print(f"current source gate queries: {len(o)}")
