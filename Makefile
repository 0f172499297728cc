.PHONY: test chaos ann bench smoke correctness perfbench profile cds

W ?= cdc_publish_tail
SEED ?= 1

# the ROADMAP tier-1 command, verbatim
test:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

# the commit-protocol tests (commit log, ledgers, topic sidecar, staged
# publish, ingest crash windows, the build-once artifact cache): a few
# minutes instead of the tier-1 run
chaos:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; \
	python -m pytest tests/test_build_once.py tests/test_commit_log.py tests/test_cdc.py tests/test_ingest_chaos.py tests/test_ingest_driver.py -q -p no:cacheprovider && \
	python -m pytest tests/test_pipeline.py -q -p no:cacheprovider -k "ledger or sidecar or commit or reservation or publish_runs_one or publish_crash or concurrent_publishes"

# the ANN contract tests (one trained model, PQ / IVF / IVF-PQ search,
# centroid rows and probes, NULL and degenerate corpora, the semantic
# gate): a few minutes instead of the tier-1 run
ann:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; \
	python -m pytest tests/test_semantic_gate.py -q -p no:cacheprovider && \
	python -m pytest tests/test_llmops.py -q -p no:cacheprovider -k "pq or ivf or centroid or sq_dists or degenerate_corpora or ann_model"

correctness:
	python -m pytest tests/test_correctness.py -q

bench:
	python bench.py

# one benchmark run: make perfbench W=<workload> SEED=<n>
perfbench:
	python3 perfbench/run.py --workload $(W) --seed $(SEED) --seconds 8 --trace 0

# per-query layer profile (bench timing policy): make profile Q="q1 q2 ..."
# profiles the bench set when Q is empty
profile:
	python tools_profile.py $(Q)

smoke:
	python -c "import __spark_entry__ as e; from data_pipeline_spark.session import get_spark; s=get_spark('smoke'); print(len(e.entry(s).collect()), 'rows'); s.stop()"

# build the driver JVM's class-data archive ahead of use and print its path
# and size (README, "Session defaults"); rm -rf the cds cache directory first
# to time a cold start
cds:
	python -c "import os; from data_pipeline_spark.session import class_data_archive; a = class_data_archive(); print(f'{a[0]} {os.path.getsize(a[0]) / 2**20:.0f} MB' if a else 'no archive: the session starts without one (README, Session defaults)')"
