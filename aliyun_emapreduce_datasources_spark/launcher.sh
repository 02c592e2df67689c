#!/bin/sh
# Python executable for every process Spark starts for a session made by
# session.get_session: executor and planner daemons, their workers and
# runners, and each streaming query's source runner.
#
# Spark puts its own pyspark.zip, the py4j source zip and the spark-core
# jar first on these processes' PYTHONPATH. The zips hold sources only,
# so every fresh process would compile pyspark again; the jar holds no
# Python at all. Drop them, keep every other entry in order, and run the
# driver's own interpreter, whose site-packages holds the same pyspark
# compiled. get_session passes that interpreter in EMR_DATASOURCES_PYTHON.
set -f
kept=
sep=
IFS=:
for entry in ${PYTHONPATH-}; do
    case $entry in
        */pyspark.zip | */py4j-*-src.zip | *.jar) ;;
        *) kept=$kept$sep$entry; sep=: ;;
    esac
done
unset IFS
PYTHONPATH=$kept
export PYTHONPATH
exec "${EMR_DATASOURCES_PYTHON:?is not set: start the session with session.get_session}" "$@"
