.PHONY: test parity bench perfbench demo gate

test:            ## full pytest suite (sf0.001 fixtures)
	python -m pytest tests/ -q

parity:          ## driver-grade oracle parity at sf0.01
	SPARK_GRAFT_TEST_SF_DIR=/root/testdata/sf0.01 python -m pytest tests/test_oracle_parity.py -q

bench:           ## catalog timings at $$SPARK_GRAFT_SF_DIR (default sf0.1)
	python bench.py

perfbench:       ## the repo benchmark's own smoke tests (perfbench/)
	python -m pytest perfbench -q

demo:            ## end-to-end: land feeds -> validate -> sync -> status
	python -m pim_etl_spark.demo

gate: parity test ## everything the round driver checks
