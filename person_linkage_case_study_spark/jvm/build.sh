#!/bin/sh
# Build sparklinkage.jar from every Java UDF source in src/sparklinkage/
# (Jaro-Winkler, NYSIIS) against the installed pyspark jars, and leave the
# compiled classes in classes/. Run from this directory; requires JDK 17
# (javac). tests/test_jvm_udfs.py fails when a source has no class in the
# committed jar, so re-run this after adding or changing a UDF.
set -e
SPARK_JARS=$(python -c "import pyspark, os; print(os.path.join(os.path.dirname(pyspark.__file__), 'jars'))")
CP=$(ls "$SPARK_JARS"/spark-sql*.jar "$SPARK_JARS"/spark-catalyst*.jar "$SPARK_JARS"/spark-core*.jar 2>/dev/null | tr '\n' ':')
rm -rf classes && mkdir -p classes
javac -encoding UTF-8 -cp "$CP" -d classes src/sparklinkage/*.java
jar cf sparklinkage.jar -C classes .
echo "built $(pwd)/sparklinkage.jar"
