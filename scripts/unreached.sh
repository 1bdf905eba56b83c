#!/usr/bin/env bash
# List candidate dead code in src/main/scala: every top-level type and
# every public member `def` whose name no other line of src/main/scala
# or gatebench/src mentions. A type naming itself inside its own body
# (or its companion's) is not a use. Comment lines (those starting with
# //, /* or *) do not count as uses; test code does not count either,
# so code reached only from its own spec is listed. Objects with a
# `main` are entry points and are not listed.
#
# This is a heuristic: it lists CANDIDATES only. It is not a CI
# gate and must not become one. It matches bare names, so it has false
# positives (members reached only through an interface the JVM or Spark
# calls, such as an Expression method declared without `override`, or a
# def used only inside its own file under an alias) and false negatives
# (a name shared by two unrelated definitions counts as used). Confirm
# every candidate by hand, and let the compiler decide, before deleting.
#
# Usage: scripts/unreached.sh            (run from anywhere in the repo)
# Output: one line per candidate, "<kind> <name> <file>:<line>", sorted.
set -euo pipefail
cd "$(dirname "$0")/.."

find src/main/scala gatebench/src -name '*.scala' -print0 | sort -z |
  xargs -0 awk '
    function isComment(line) { return line ~ /^[ \t]*(\/\/|\/\*|\*)/ }
    FNR == 1 { inMain = (FILENAME ~ /^src\/main\/scala\//); curType = "" }
    isComment($0) { next }
    {
      line = $0
      defName = ""
      if (inMain) {
        # top-level types: declared at column 0
        if (match(line, /^((final|sealed|abstract|case|implicit|private(\[[A-Za-z_.]+\])?) +)*(class|object|trait) +[A-Za-z_][A-Za-z0-9_]*/)) {
          decl = substr(line, RSTART, RLENGTH)
          n = split(decl, parts, / +/)
          defName = parts[n]; kind = parts[n - 1]
          curType = defName
        # public member defs: two-space indent (members of a top-level
        # type), not private/protected, not override (dispatched)
        } else if (match(line, /^  (final +|implicit +|inline +)*def +[A-Za-z_][A-Za-z0-9_]*/)) {
          decl = substr(line, RSTART, RLENGTH)
          n = split(decl, parts, / +/)
          defName = parts[n]; kind = "def"
        }
        if (defName == "main" && curType != "") entry[curType] = 1
        if (defName != "" && defName !~ /^(main|apply|unapply|update)$/) {
          nDefs++
          defKind[nDefs] = kind; defOf[nDefs] = defName
          defFile[nDefs] = FILENAME; defLine[nDefs] = FNR
        }
      }
      # every distinct word on the line is one use, except the name the
      # line itself defines
      gsub(/[^A-Za-z0-9_]+/, " ", line)
      m = split(line, words, " ")
      delete seen
      for (i = 1; i <= m; i++) {
        w = words[i]
        if (w == "" || (w in seen) || w == defName || w == curType) continue
        seen[w] = 1
        uses[w]++
      }
      if ($0 ~ /^}/) curType = ""
    }
    END {
      for (i = 1; i <= nDefs; i++) {
        if (uses[defOf[i]] == 0 && !(defOf[i] in entry))
          print defKind[i], defOf[i], defFile[i] ":" defLine[i]
      }
    }' | sort -u -k3,3 -k2,2
