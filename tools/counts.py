#!/usr/bin/env python3
"""Print the code-size and harness counts of the main sources as one JSON line.

    python3 tools/counts.py [repo_root]

Counts, over `src/main/scala/**/*.scala`:
  main_loc               every line
  main_code_lines        lines with code left after removing comments and blanks
  streaming_code_lines   the same for graft/queries/StreamingQueries.scala
  session_builder_sites  `SparkSession.builder` occurrences
  graft_conf_keys        distinct `spark.graft.<key>` names
  cli_flags              distinct `"--<flag>"` string literals
  env_knobs              distinct environment variable names passed to `sys.env` (`sys.env("X")`,
                         `sys.env.get("X")`, `sys.env.getOrElse("X", …)`)
  dev_mains              objects with a `main` that are not a harness entry point
  stderr_tags            distinct `[graft-<tag>]` stderr tags
  thread_locals          `new ThreadLocal` occurrences
"""
import json
import os
import re
import sys

HARNESS_MAINS = {"Bench", "Verify", "Pipeline"}


def code_lines(text):
    """Lines holding code outside comments. Strings (plain, interpolated,
    triple-quoted) are code; `//` and nested `/* */` comments are not."""
    n, i, depth, line_has_code = 0, 0, 0, False
    in_str, triple = False, False
    while i < len(text):
        c = text[i]
        if c == "\n":
            n += line_has_code
            line_has_code = False
            i += 1
            continue
        if depth:
            if text.startswith("*/", i):
                depth, i = depth - 1, i + 2
            elif text.startswith("/*", i):
                depth, i = depth + 1, i + 2
            else:
                i += 1
            continue
        if in_str:
            line_has_code = line_has_code or not c.isspace()
            if triple and text.startswith('"""', i):
                in_str, i = False, i + 3
            elif not triple and c == "\\":
                i += 2
            elif not triple and c == '"':
                in_str, i = False, i + 1
            else:
                i += 1
            continue
        if text.startswith("//", i):
            while i < len(text) and text[i] != "\n":
                i += 1
            continue
        if text.startswith("/*", i):
            depth, i = 1, i + 2
            continue
        if text.startswith('"""', i):
            in_str, triple, line_has_code, i = True, True, True, i + 3
            continue
        if c == '"':
            in_str, triple, line_has_code, i = True, False, True, i + 1
            continue
        if c == "'" and i + 2 < len(text) and (text[i + 2] == "'" or text[i + 1] == "\\"):
            end = text.index("'", i + 2 if text[i + 1] != "\\" else i + 3)
            line_has_code, i = True, end + 1
            continue
        line_has_code = line_has_code or not c.isspace()
        i += 1
    return n + line_has_code


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.join(os.path.dirname(__file__), "..")
    main_dir = os.path.join(root, "src", "main", "scala")
    files = sorted(os.path.join(d, f) for d, _, fs in os.walk(main_dir)
                   for f in fs if f.endswith(".scala"))
    texts = {f: open(f, encoding="utf-8").read() for f in files}
    every = "\n".join(texts.values())
    streaming = [t for f, t in texts.items() if f.endswith("StreamingQueries.scala")]
    mains = sorted(m for t in texts.values()
                   for m in re.findall(r"object (\w+)[^{]*\{(?:(?!\nobject ).)*?def main\(", t, re.S))
    print(json.dumps({
        "main_loc": sum(t.count("\n") for t in texts.values()),
        "main_code_lines": sum(code_lines(t) for t in texts.values()),
        "streaming_code_lines": sum(code_lines(t) for t in streaming),
        "session_builder_sites": every.count("SparkSession.builder"),
        "graft_conf_keys": sorted(set(k.rstrip(".") for k in re.findall(r"spark\.graft\.[A-Za-z.]+", every))),
        "cli_flags": sorted(set(re.findall(r'"(--[a-z][a-z0-9-]*)"', every))),
        "env_knobs": sorted(set(re.findall(r'sys\.env(?:\.\w+)?\(\s*"(\w+)"', every))),
        "dev_mains": [m for m in mains if m not in HARNESS_MAINS],
        "stderr_tags": sorted(set(re.findall(r"\[graft-[a-z]+\]", every))),
        "thread_locals": every.count("new ThreadLocal"),
    }))


if __name__ == "__main__":
    main()
