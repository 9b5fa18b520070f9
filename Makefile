PY ?= python

.PHONY: test parity bench perf scaling lines dist clean

test:
	$(PY) -m pytest tests/ -x -q

parity:
	$(PY) scripts/check_parity.py

bench:
	$(PY) bench.py

# the benchmark's own tests, then one untraced pass of each workload
perf:
	$(PY) -m pytest perfbench/tests -q
	python3 perfbench/run.py --workload crawl_warm --seed 1 --seconds 5 --trace 0
	python3 perfbench/run.py --workload query_suite --seed 1 --seconds 5 --trace 0

scaling:
	$(PY) scripts/bench_scaling.py 4 16 3

# non-frozen package line count (the size the design aims to shrink)
lines:
	@find fundcrawler_spark -name '*.py' ! -name 'frozen_*' | xargs cat | wc -l

# spark-submit packaging: zip the package for --py-files
dist:
	mkdir -p dist
	cd . && zip -qr dist/fundcrawler_spark.zip fundcrawler_spark -x '*__pycache__*'
	@echo "submit with:"
	@echo "  spark-submit --py-files dist/fundcrawler_spark.zip your_job.py"

clean:
	rm -rf dist .pytest_cache $$(find . -name __pycache__ -type d 2>/dev/null)
