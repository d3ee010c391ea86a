.PHONY: test tier1 parity bench perfbench demo gate

test:            ## full pytest suite (sf0.001 fixtures)
	python -m pytest tests/ -q

tier1:           ## the ROADMAP tier-1 verify command, verbatim
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; \
	timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

parity:          ## driver-grade oracle parity at sf0.01
	SPARK_GRAFT_TEST_SF_DIR=/root/testdata/sf0.01 python -m pytest tests/test_oracle_parity.py -q

bench:           ## catalog timings + per-entry layers at $$SPARK_GRAFT_SF_DIR (default sf0.1); re-time entries: python bench.py --recheck a,b
	python bench.py

perfbench:       ## the repo benchmark's own smoke tests (perfbench/)
	python -m pytest perfbench -q

demo:            ## end-to-end: land feeds -> validate -> sync -> status
	python -m pim_etl_spark.demo

gate: parity test ## everything the round driver checks
