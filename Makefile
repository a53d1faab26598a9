# tiledspark — common entry points
.PHONY: test bench scaling pyfiles

# the tier-1 command from ROADMAP.md
test:
	SPARK_GRAFT_CPUS=$$(env -u OMP_NUM_THREADS nproc) SPARK_LOCAL_DIRS=/tmp/spark-local \
		python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

bench:
	python bench.py

scaling:
	python bench/run_scaling.py --runs 3

# package for spark-submit --py-files (north_star: "runs via spark-submit --py-files")
pyfiles:
	rm -f dist/tiledspark.zip && mkdir -p dist
	cd . && zip -qr dist/tiledspark.zip tiledspark -x '*__pycache__*'
	@echo "submit with: spark-submit --py-files dist/tiledspark.zip your_job.py"
