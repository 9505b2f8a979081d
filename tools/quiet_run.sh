#!/bin/bash
# Wait for a sustained quiet hypervisor window (steal below a permille
# threshold over consecutive probes), then exec the given command.
# Usage: tools/quiet_run.sh [-t steal_pm_max] [-n probes] [-w max_wait_s] cmd...
# The measurement-protocol companion to the steal_pm gauge in Bench:
# timing runs launched through this wrapper start in a window the
# gauge would accept, instead of being discovered as contaminated
# after the fact. A probe divides stolen jiffies by ALL jiffies (idle
# included), not by busy ones as Bench's run-long gauge does: while the
# host waits it is nearly idle, and a few stolen jiffies over a handful
# of busy ones would read hundreds of permille on a quiet host.
THRESH=30; PROBES=3; MAXWAIT=3600
while getopts "t:n:w:" o; do case $o in
  t) THRESH=$OPTARG;; n) PROBES=$OPTARG;; w) MAXWAIT=$OPTARG;;
esac; done
shift $((OPTIND-1))
start=$(date +%s)
ok=0
prev=""
while true; do
  read -r _ u n s i w q sq st _ < /proc/stat
  total=$((u+n+s+i+w+q+sq+st))
  if [ -n "$prev" ]; then
    dt=$((total - pt)); ds=$((st - ps))
    pm=$(( dt > 0 ? 1000*ds/dt : 0 ))
    if [ "$pm" -le "$THRESH" ]; then ok=$((ok+1)); else ok=0; fi
    if [ "$ok" -ge "$PROBES" ]; then break; fi
  fi
  pt=$total; ps=$st; prev=1
  if [ $(( $(date +%s) - start )) -gt "$MAXWAIT" ]; then
    echo "[quiet_run] no quiet window within ${MAXWAIT}s (last steal_pm=$pm); running anyway" >&2
    break
  fi
  sleep 3
done
echo "[quiet_run] window open (steal_pm<=$THRESH x$PROBES), starting: $*" >&2
exec "$@"
