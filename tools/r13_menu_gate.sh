#!/bin/bash
# r13 consolidated serving-menu re-gate: prebuild every fixture with a
# minimal pass, then measure the full menu in ONE fresh JVM (one VM
# phase, the r12 interleaving lesson applied to the gate table), then
# the refine=128 variant against the warm index.
set -x
cd /root/repo
log=/tmp/r13_menu_gate.log
: > $log
echo "== prebuild ==" >> $log
env CONC_MODE=dense,filtered CONC_USERS=1 CONC_REQS=1 CONC_RECALL_QS=0 \
  sbt -batch "runMain graft.ConcurrencyProbe" 2>&1 |
  grep -E "CONCURRENCY3072" >> $log
echo "== menu (one phase) ==" >> $log
env CONC_MODE=dense,ivf,filtered,hybrid,lex,brute CONC_RECALL_QS=0 \
  sbt -batch "runMain graft.ConcurrencyProbe" 2>&1 |
  grep -E "CONCURRENCY3072" >> $log
echo "== dense refine=128 ==" >> $log
env CONC_MODE=dense CONC_DENSE_REFINE=128 CONC_RECALL_QS=0 \
  sbt -batch "runMain graft.ConcurrencyProbe" 2>&1 |
  grep -E "CONCURRENCY3072" >> $log
echo MENU_DONE >> $log
