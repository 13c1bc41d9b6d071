# Convenience targets. The test suite itself is plain pytest; these wrap
# the environment-gated flows that need services or non-default env.

.PHONY: test test-full perfbench cds bench verify postgres-up \
        postgres-live-test postgres-down postgres-local-up \
        postgres-local-test postgres-local-down

# The tier-1 run (ROADMAP.md): the default suite skips the heavy
# lifecycle/stream files (tests/conftest.py).
TEST_ENV = SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" \
           SPARK_LOCAL_DIRS=/tmp/spark-local
PYTEST = python -m pytest tests/ -q --continue-on-collection-errors \
         -p no:cacheprovider
FULL_TESTS_RECORD ?= FULL_TESTS.json

test:
	$(TEST_ENV) timeout -k 10 2670 $(PYTEST)

# The whole suite, heavy files included (~30 min on 4 cores). Writes the
# run's counts, failures and wall time to $(FULL_TESTS_RECORD), the
# per-round record.
test-full:
	$(TEST_ENV) SPARK_GRAFT_FULL_TESTS=1 \
	SPARK_GRAFT_FULL_TESTS_RECORD=$(FULL_TESTS_RECORD) \
	timeout -k 10 5400 $(PYTEST)

CHECK_CORRECT = 'import json, sys; r = json.load(sys.stdin); print(r); sys.exit(not r["correct"])'

# The benchmark's own tests, then one smoke-size run of each workload;
# a run fails the target unless its result line says "correct".
perfbench:
	python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider
	for w in machine llm_curation; do \
	  python3 perfbench/run.py --workload $$w --seed 1 --seconds 1 --tiny \
	  | tail -n 1 | python3 -c $(CHECK_CORRECT) || exit 1; \
	done

# Provision the driver's class-data-sharing archive for the session
# default heap (32g) and perfbench's (1g); their compressed-oops modes
# differ, so each has its own archive. Nothing needs this: a session
# without an archive dumps one at exit. A run on an existing archive
# maps it and reports what a cold first query still pays.
CDS_HEAPS ?= 32g 1g

cds:
	for h in $(CDS_HEAPS); do \
	  SPARK_GRAFT_DRIVER_MEM=$$h python tools/cds_warmup.py || exit 1; \
	done

bench:
	python bench.py

verify:
	python tools/verify_driver.py --all

# --- Live-Postgres gate (r6 VERDICT #9; deploy/README.md) --------------
# Requires a Docker daemon. The gate test drops/recreates both reference
# tables, so it must point at a SCRATCH database — the compose file
# provisions exactly that.

postgres-up:
	docker compose -f deploy/docker-compose.postgres-test.yml up -d --wait

postgres-live-test:
	POSTGRES_DSN=jdbc:postgresql://localhost:5432/machines_test \
	POSTGRES_USER=postgres POSTGRES_PASSWORD=postgres \
	python -m pytest tests/test_postgres_live.py -q

postgres-down:
	docker compose -f deploy/docker-compose.postgres-test.yml down -v

# --- No-Docker live-Postgres gate (r8 — first recorded green run) ------
# Uses plain postgres/initdb/pg_ctl binaries; runs the server as the
# `postgres` user on a scratch cluster under /tmp. The JDBC jar must be
# on BOTH --driver-class-path and --jars (py4j Class.forName probes the
# system classloader). Override PG_JDBC_JAR with your driver path.

PG_JDBC_JAR ?= /root/reference/drivers/postgresql-42.7.5.jar
PG_PORT ?= 54329
PG_DATA ?= /tmp/pgdata

postgres-local-up:
	mkdir -p $(PG_DATA) && chown postgres $(PG_DATA)
	runuser -u postgres -- initdb -D $(PG_DATA) -U postgres --auth=trust
	runuser -u postgres -- pg_ctl -D $(PG_DATA) -l /tmp/pg.log \
	  -o "-p $(PG_PORT) -c listen_addresses=localhost -k $(PG_DATA)" start
	psql -h localhost -p $(PG_PORT) -U postgres \
	  -c "CREATE DATABASE machines;"

postgres-local-test:
	POSTGRES_DSN=jdbc:postgresql://localhost:$(PG_PORT)/machines \
	POSTGRES_USER=postgres POSTGRES_PASSWORD= \
	PYSPARK_SUBMIT_ARGS="--driver-class-path $(PG_JDBC_JAR) --jars $(PG_JDBC_JAR) pyspark-shell" \
	python -m pytest tests/test_postgres_live.py -q

postgres-local-down:
	runuser -u postgres -- pg_ctl -D $(PG_DATA) stop || true
	rm -rf $(PG_DATA)
