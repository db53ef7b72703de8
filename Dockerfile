# Container packaging for the graft engine — the reference ships as a
# `docker run`-able artifact (reference Dockerfile:3,13: python:3.9-slim +
# `CMD ["python","main.py"]`); this is the Spark-native equivalent of that
# contract. Build the app jar first, then the image:
#
#   sbt package
#   docker build -t graft .
#   docker run -e API_BASE_URL=... -e ADMIN_API_KEY=... \
#     -e DB_HOST=... -e DB_PORT=... -e DB_USERNAME=... \
#     -e DB_PASSWORD=... -e DB_NAME=... graft
#
# The THIN `sbt package` jar is the complete deployable: graft depends on
# nothing but Spark itself, which the base image (and any real cluster via
# spark-submit) already provides — a fat assembly would only re-bundle
# /opt/spark/jars. The same jar submits unchanged to a real cluster:
#
#   spark-submit --class graft.Main --master <cluster> graft_2.13-*.jar
#
# Env contract (names verbatim from the reference, main.py:15-21) is read
# by graft.Main; secrets are masked in the config echo by design.
FROM apache/spark:4.0.0-scala2.13-java17-ubuntu

WORKDIR /opt/app

COPY target/scala-2.13/graft_2.13-*.jar /opt/app/graft.jar

# local[*] inside the container mirrors the reference's single-process
# run. To fan out on a real cluster, submit the jar yourself with
# `--master <cluster>`: the CMD's `--master` sets spark.master, so
# SPARK_GRAFT_MASTER (read only when spark.master is unset) has no effect.
CMD ["/opt/spark/bin/spark-submit", "--class", "graft.Main", \
     "--master", "local[*]", "/opt/app/graft.jar"]
