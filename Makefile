# Developer targets.  Local sessions size themselves from this host
# (session.host_conf: cores in the affinity mask, driver heap capped at
# 3/4 of RAM); SPARK_GRAFT_CPUS / SPARK_GRAFT_DRIVER_MEM override.

PY ?= python

.PHONY: test bench perfbench-smoke correctness-local correctness-local-incr coverage queries-md scaledata scaleprobe scaleprobe-cold embpairs-probe round-numbers ann-recall-scale

# Tier-1 (ROADMAP.md): the whole suite on this host's cores, Spark
# scratch under /tmp/spark-local, no .pytest_cache left in the tree.
test:
	SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" \
	SPARK_LOCAL_DIRS=/tmp/spark-local \
	timeout -k 10 2670 $(PY) -m pytest tests/ -q \
		--continue-on-collection-errors -p no:cacheprovider

bench:
	$(PY) bench.py

# Tiny-input run of both perfbench workloads (stream_replay, suite_heavy):
# every run must print its metrics and report correct: true.
perfbench-smoke:
	$(PY) -m pytest perfbench/test_smoke.py -q

# Regenerate the full repo-side correctness matrix: EVERY registered
# query, strict (driver-discipline) comparison vs DuckDB at sf0.001 and
# sf0.01.  tests/test_correctness_matrix.py pins this file's freshness
# against the registry, so rerun this target whenever queries change.
correctness-local:
	$(PY) -m kafka_bigdata_jobs_spark matrix --out CORRECTNESS_local.json

# Incremental variant: carry over existing green rows, run only queries
# that are new or recorded non-green — the cheap path when a few
# queries land between full regenerations.
correctness-local-incr:
	$(PY) -m kafka_bigdata_jobs_spark matrix --out CORRECTNESS_local.json --only-missing

# Refresh COVERAGE.md's verified-by column from the union of committed
# CORRECTNESS artifacts (driver rounds + the local matrix).
coverage:
	$(PY) tools/refresh_coverage.py

# Regenerate the QUERIES.md catalog from the live registry.
queries-md:
	$(PY) tools/refresh_queries.py

# Materialize 3x/10x replicas of sf0.1 (key-shifted, similarity-
# decorrelated — see tools/scaleup.py docstring) for the scaling probe.
scaledata:
	$(PY) tools/scaleup.py --factor 3 --out .scaledata/x3
	$(PY) tools/scaleup.py --factor 10 --out .scaledata/x10

# Time the heavyweight funnels at 1x/3x/10x and record per-plan scaling
# exponents in SCALING.json (narrated in SCALE.md).
scaleprobe: scaledata
	$(PY) tools/scaleprobe.py

# Exponents for the shared pair-relation COLD BUILDS (bench.py's
# cold_builds numbers) — at 100 TB the build is the job.
scaleprobe-cold: scaledata
	$(PY) tools/scaleprobe.py --cold-builds

# Scaling row for the hierarchical exact pair search (the
# embedding_close_pairs auto path past max_side_bytes): generates
# clustered 50k..5M-row corpora and probes cold builds, recording each
# scale's per-phase seconds (HierStats.phase_seconds) and per-phase
# exponents, with an x1 equality gate against the blocked exact path.
embpairs-probe:
	$(PY) tools/embpairs_probe.py

# Round-notes headline numbers, generated FROM the committed artifacts
# so notes can never drift from what the tree actually records.
round-numbers:
	$(PY) tools/round_numbers.py

# Measure ANN recall@10 at 1x/3x/10x corpus (fit params at production
# caps) into SCALING.json's ann_recall section; CI pins x10 floors.
ann-recall-scale: scaledata
	$(PY) tools/ann_recall_scale.py
