#!/bin/bash
# Round-closing evidence pipeline (run on FROZEN source, commit the
# logs it writes). Serial on purpose: concurrent Spark sessions on
# one box contend for the 32 cores and corrupt timings.
#
#   bash tools/freeze_evidence.sh
#
# Produces, in order:
#   MIRROR.log                     full registry vs DuckDB at sf0.001
#   MIRROR_r<N>_full_sf0.01.log    full registry at sf0.01
#   MIRROR_r<N>_full_sf0.1.log     full registry at sf0.1
#   MIRROR_r<N>_window_sf0.01.log  the driver window (first 50)
#   pytest output on stdout        full suite
# Set ROUND (e.g. ROUND=r11) for the log names.
set -e
cd "$(dirname "$0")/.."
ROUND="${ROUND:-r10}"

rm -f MIRROR.log
MIRROR_LOG=MIRROR.log python tools/check_oracles.py /root/testdata/sf0.001
rm -f "MIRROR_${ROUND}_full_sf0.01.log"
MIRROR_LOG="MIRROR_${ROUND}_full_sf0.01.log" \
  python tools/check_oracles.py /root/testdata/sf0.01
rm -f "MIRROR_${ROUND}_full_sf0.1.log"
MIRROR_LOG="MIRROR_${ROUND}_full_sf0.1.log" \
  python tools/check_oracles.py /root/testdata/sf0.1

NAMES=$(python -c "
import sys; sys.path.insert(0, '.')
import __spark_entry__ as e
print(' '.join(list(e.queries())[:50]))" | tail -1)
rm -f "MIRROR_${ROUND}_window_sf0.01.log"
MIRROR_LOG="MIRROR_${ROUND}_window_sf0.01.log" \
  python tools/check_oracles.py /root/testdata/sf0.01 $NAMES

python -m pytest tests/ -q
