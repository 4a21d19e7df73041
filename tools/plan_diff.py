#!/usr/bin/env python3
"""Compare two tagged sets of `graft.tools.Plans` output, ignoring ids.

`graft.tools.Plans <sfDir> <dir> <tag>` writes one `<key>_<tag>.txt` per
query key. Two runs of the same code already differ on almost every line:
expression ids (`doc_id#4675L`), plan ids (`plan_id=54418`), checkpoint
RDD ids and their call-site line numbers, temp paths, broadcast variable
ids, lambda class names, the session counter in higher-order function
variables (`lambda x_118`), the identity hashes of objects embedded in
expressions, and the checkout directory holding `spark-warehouse`. This script
normalizes those away and reports, for each key present under both tags,
`same` or a unified diff of the normalized plans.

Usage:
    python3 tools/plan_diff.py <dir> <tagA> <tagB> [key ...]

Without keys, every key found under both tags is compared. Keys present
under only one tag are listed. Exit status is 1 when any compared key
differs, else 0.
"""
import difflib
import os
import re
import sys

NORMALIZE = [
    (re.compile(r"#\d+L?"), "#N"),                          # expression ids
    (re.compile(r"plan_id=\d+"), "plan_id=N"),              # exchange plan ids
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),                  # checkpoint RDD ids
    (re.compile(r"(\w+\.scala):\d+"), r"\1:N"),             # RDD call-site lines
    (re.compile(r"/tmp/[^\s,\]\)]+"), "/tmp/<path>"),       # temp dirs
    (re.compile(r"Broadcast\(\d+\)"), "Broadcast(N)"),         # broadcast var ids
    (re.compile(r"@[0-9a-f]{1,8}\b"), "@H"),                   # JVM identity hashes
    (re.compile(r"\$Lambda\$\d+/0x[0-9a-f]+"), "$Lambda$N"),   # lambda class names
    (re.compile(r"(lambda [A-Za-z]+)_\d+"), r"\1_N"),          # higher-order fn variables
    (re.compile(r"file:\S*/spark-warehouse/"), "file:<warehouse>/"),  # checkout dir
]


def normalize(text):
    for pattern, repl in NORMALIZE:
        text = pattern.sub(repl, text)
    return text.splitlines(keepends=True)


def keys_for(directory, tag):
    suffix = "_%s.txt" % tag
    return {f[:-len(suffix)] for f in os.listdir(directory) if f.endswith(suffix)}


def main(argv):
    if len(argv) < 4:
        sys.stderr.write(__doc__)
        return 2
    directory, tag_a, tag_b = argv[1:4]
    keys_a, keys_b = keys_for(directory, tag_a), keys_for(directory, tag_b)
    wanted = set(argv[4:]) or (keys_a | keys_b)
    differing = 0
    for key in sorted(wanted):
        if key not in keys_a or key not in keys_b:
            missing = tag_a if key not in keys_a else tag_b
            print("%s: missing under %s" % (key, missing))
            continue
        path_a = os.path.join(directory, "%s_%s.txt" % (key, tag_a))
        path_b = os.path.join(directory, "%s_%s.txt" % (key, tag_b))
        with open(path_a, encoding="utf-8") as fa, open(path_b, encoding="utf-8") as fb:
            a, b = normalize(fa.read()), normalize(fb.read())
        if a == b:
            print("%s: same" % key)
        else:
            differing += 1
            print("%s: differs" % key)
            sys.stdout.writelines(difflib.unified_diff(
                a, b, "%s_%s" % (key, tag_a), "%s_%s" % (key, tag_b)))
    return 1 if differing else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
