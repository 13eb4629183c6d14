.PHONY: test test-fast bench bench-smoke scaling dist clean

test:
	python -m pytest tests/ -x -q

test-fast:
	python -m pytest tests/ -x -q -m "not slow"

bench:
	python bench.py

bench-smoke:
	python3 -m pytest perfbench/test_smoke.py

scaling:
	python BENCH/scaling.py

dist:
	mkdir -p dist
	python -m zipfile -c dist/jaccard_ml_spark.zip jaccard_ml_spark
	@echo "submit with: spark-submit --py-files dist/jaccard_ml_spark.zip jobs/dedup.py ..."

clean:
	rm -rf dist .pytest_cache
	find . -name __pycache__ -type d -exec rm -rf {} +
