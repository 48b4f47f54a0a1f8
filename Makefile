PY ?= python
# cores Spark may use: get_spark defaults to local[32] without it (nproc
# honours OMP_NUM_THREADS, so unset that first, as the tier-1 command does)
NPROC := $(shell env -u OMP_NUM_THREADS nproc)
SEED ?= 0
TRACE ?= 0

.PHONY: test test-fast test-kernel test-tables bench plans correctness scaling pipeline zip clean perfbench perfbench-test

test:
	SPARK_GRAFT_CPUS=$(NPROC) $(PY) -m pytest tests/ -x -q

test-fast:
	$(PY) -m pytest tests/test_textnorm_oracle.py tests/test_corpus_training.py tests/test_properties.py -q

# the per-row Arrow kernel (kgforge/stages/rows.py) and every stage on it,
# plus its retry gate (~2 min)
test-kernel:
	SPARK_GRAFT_CPUS=$(NPROC) $(PY) -m pytest -q tests/test_docstream.py \
		tests/test_spark_normalize.py tests/test_extract.py tests/test_mentions.py \
		tests/test_corpus_training.py tests/test_rechunk_distribution.py \
		tests/test_subword_alignment.py tests/test_kernel_retry.py

# table writes: commit/manifest, retry observation, resume, one file per
# partition value, plan shapes (~4 min)
test-tables:
	SPARK_GRAFT_CPUS=$(NPROC) $(PY) -m pytest -q tests/test_tables_manifest.py \
		tests/test_pipeline_resume.py tests/test_temporal.py tests/test_plans.py

bench:
	$(PY) bench.py

# explain("formatted") of every bench phase (+ three contract queries), one
# file per plan (~1 min); for a before/after, run tools/dump_plans.py into
# two dirs
plans:
	KGFORGE_BENCH_DOCS=2000 SPARK_GRAFT_SF_DIR=/root/testdata/sf0.001 SPARK_GRAFT_CPUS=$(NPROC) \
		$(PY) tools/dump_plans.py /tmp/kgforge_plans

# the declared benchmark (BENCHMARK.json): both workloads, one run each;
# TRACE=1 adds the per-layer sweep
perfbench:
	$(PY) perfbench/run.py --workload build --seed $(SEED) --seconds 1 --trace $(TRACE)
	$(PY) perfbench/run.py --workload serve --seed $(SEED) --seconds 1 --trace $(TRACE)

perfbench-test:
	$(PY) -m pytest perfbench/tests -q

correctness:
	$(PY) tools/check_correctness.py

scaling:
	SPARK_GRAFT_CPUS=$(NPROC) $(PY) tools/run_scaling.py --docs 300000 --levels 1,4 --repeats 2

skew:
	$(PY) tools/run_skew_bench.py --edges 1000000 --cpus 16

pipeline:
	$(PY) jobs/run_pipeline.py --sf small --out /tmp/kgforge_out

reference-baseline:
	$(PY) tools/run_reference_style.py

# spark-submit packaging: zip the library for --py-files
zip:
	rm -f kgforge.zip && zip -rq kgforge.zip kgforge -x '*__pycache__*'
	@echo "submit with: spark-submit --py-files kgforge.zip jobs/run_pipeline.py ..."

clean:
	rm -rf kgforge.zip .pytest_cache $(shell find . -name __pycache__ -type d 2>/dev/null)
