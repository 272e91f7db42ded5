# mirrors the reference's Makefile contract (/root/reference/Makefile:8-11)
.PHONY: test tier1 perfbench-test crosscheck bench format

test:
	python -m pytest tests/ -x -q

# the Tier-1 suite exactly as ROADMAP.md states it: every test runs
# (no -x), with the CPU count and Spark scratch dir pinned
tier1:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; \
	timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

# the benchmark's own oracle tests, at tiny sizes
perfbench-test:
	python -m pytest perfbench/tests -q

crosscheck:
	python scripts/crosscheck.py

bench:
	python bench.py

submit-smoke:
	zip -qr /tmp/mojap_spark.zip mojap_arrow_pd_parser_spark
	spark-submit --master local[8] --py-files /tmp/mojap_spark.zip \
	  submit/encode_job.py --synthetic 20000 --output /tmp/submit_enc --verify
