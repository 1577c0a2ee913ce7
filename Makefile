# Per-round CI surface. `make replicates` regenerates all five
# full-registry correctness artifacts at HEAD (VERDICT r3 item 10 +
# r4 items 6/10: one target so no round can skip a replicate); `make
# all` is the complete pre-commit gate. `make typegate` is the fast
# oracle type-representation sweep (DESCRIBE over every oracle, no
# HUGEINT/unsigned outputs) — also part of the pytest suite.
#
# Each replicate is a separate JVM on purpose — the hostile runs
# prove queries hold under session configs the repo didn't build,
# and the metastore run proves the inventory is semantics-identical
# when tables resolve through the durable Hive catalog.

PY := python

.PHONY: all test typegate replicates verify verify-sf01 verify-driver \
        verify-hostile verify-metastore bench stress audit empty probes

all: replicates test audit empty bench

test:
	$(PY) -m pytest tests/ -x -q

typegate:
	$(PY) -m pytest tests/test_oracle_types.py -q

# --- the five full-registry / catalog correctness replicates ---------
replicates: verify verify-sf01 verify-driver verify-hostile \
        verify-metastore

verify:
	$(PY) scripts/verify_contract.py

verify-sf01:
	$(PY) scripts/verify_contract.py --sf-dir /root/testdata/sf0.1 \
	    --json-out $(CURDIR)/CORRECTNESS_local_sf01.json

verify-driver:
	$(PY) scripts/verify_driver_session.py

verify-hostile:
	SPARK_GRAFT_HOSTILE_PLANNER=1 $(PY) scripts/verify_driver_session.py \
	    --json-out $(CURDIR)/CORRECTNESS_hostile_planner.json

verify-metastore:
	$(PY) scripts/verify_metastore.py

# --- performance and plan gates --------------------------------------
bench:
	SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 $(PY) bench.py 2>/dev/null | tail -1

stress:
	$(PY) scripts/scale_stress.py

audit:
	$(PY) scripts/explain_audit.py --summary

empty:
	$(PY) scripts/edge_empty.py

probes:
	$(PY) scripts/probe_avro.py
	$(PY) scripts/probe_acid.py
