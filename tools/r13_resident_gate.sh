#!/bin/bash
# r13 resident-walk serving gate: price the driver-resident code walk
# (CONC_MODE=resident) at the locust protocol with the dense default
# and ivf as in-phase controls. int8 is the promoted codec (near-
# lossless walk distances); the pq rows price the scale codec's
# fidelity cost. Protocol as r13_menu_gate.sh: prebuild with a
# minimal pass, then measure each menu in ONE fresh JVM / one phase.
set -x
cd /root/repo
log=/tmp/r13_resident_gate.log
: > $log
echo "== manifold prebuild int8 (unmeasured) ==" >> $log
env CONC_FIXTURE=manifold CONC_MODE=dense,ivf,resident \
  CONC_GRAPH_K=10 CONC_ENTRY=ivf CONC_RESIDENT_CODEC=int8 \
  CONC_RESIDENT_REBUILD=1 CONC_USERS=1 CONC_REQS=1 CONC_RECALL_QS=0 \
  sbt -batch "runMain graft.ConcurrencyProbe" 2>&1 |
  grep -E "CONCURRENCY3072|RECALL10" >> $log
echo "== manifold menu, resident=int8 (one phase, with recall) ==" >> $log
env CONC_FIXTURE=manifold CONC_MODE=dense,ivf,resident \
  CONC_GRAPH_K=10 CONC_ENTRY=ivf CONC_RESIDENT_CODEC=int8 \
  sbt -batch "runMain graft.ConcurrencyProbe" 2>&1 |
  grep -E "CONCURRENCY3072|RECALL10" >> $log
echo "== manifold resident=pq m=64 ksub=256 (fidelity-cost row) ==" >> $log
env CONC_FIXTURE=manifold CONC_MODE=resident \
  CONC_GRAPH_K=10 CONC_ENTRY=ivf CONC_RESIDENT_CODEC=pq \
  CONC_RESIDENT_REBUILD=1 \
  sbt -batch "runMain graft.ConcurrencyProbe" 2>&1 |
  grep -E "CONCURRENCY3072|RECALL10" >> $log
echo "== uniform prebuild int8 (unmeasured) ==" >> $log
env CONC_FIXTURE=uniform CONC_MODE=resident \
  CONC_GRAPH_K=10 CONC_ENTRY=ivf CONC_RESIDENT_CODEC=int8 \
  CONC_RESIDENT_REBUILD=1 CONC_USERS=1 CONC_REQS=1 CONC_RECALL_QS=0 \
  sbt -batch "runMain graft.ConcurrencyProbe" 2>&1 |
  grep -E "CONCURRENCY3072|RECALL10" >> $log
echo "== uniform menu, resident=int8 (honesty row) ==" >> $log
env CONC_FIXTURE=uniform CONC_MODE=dense,ivf,resident \
  CONC_GRAPH_K=10 CONC_ENTRY=ivf CONC_RESIDENT_CODEC=int8 \
  sbt -batch "runMain graft.ConcurrencyProbe" 2>&1 |
  grep -E "CONCURRENCY3072|RECALL10" >> $log
echo RESIDENT_DONE >> $log

# final citable one-phase menu at the gated resident config (ef=16)
echo "== manifold menu FINAL, resident=int8 ef=16 (one phase) ==" >> $log
env CONC_FIXTURE=manifold CONC_MODE=dense,ivf,resident \
  CONC_GRAPH_K=10 CONC_ENTRY=ivf CONC_RESIDENT_CODEC=int8 \
  CONC_RESIDENT_EF=16 \
  sbt -batch "runMain graft.ConcurrencyProbe" 2>&1 |
  grep -E "CONCURRENCY3072|RECALL10" >> $log
echo FINAL_DONE >> $log
