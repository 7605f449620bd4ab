#!/bin/bash
# Non-blank, non-comment line count of the main Scala sources: every line
# of src/main/scala/**/*.scala that is not blank and does not start (after
# indentation) with `//`, `/*` or `*`; a line of code with a trailing
# comment counts as code. Run from anywhere in a checkout:
#   scripts/loc.sh            # prints one number
set -eu
cd "$(dirname "$0")/.."
find src/main/scala -name '*.scala' -print0 | xargs -0 cat \
  | grep -v '^[[:space:]]*$' | grep -cvE '^[[:space:]]*(//|/\*|\*)'
