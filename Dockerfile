# Container for the graft downloader daemon (graft.plans.Downloader),
# mirroring the reference's container contract
# (/root/reference/Dockerfile): multi-stage build, small runtime layer,
# configuration via environment variables, prometheus metrics on :9090.
#
#   docker build -t graft-downloader .
#   docker run -p 9090:9090 \
#     -e GRAFT_AUTH_USER=... -e GRAFT_AUTH_PASS=... \
#     -v /srv/archive:/data/archive \
#     graft-downloader file:///data/archive https://example.org/rv/pfx2as-creation.log

FROM sbtscala/scala-sbt:eclipse-temurin-17.0.13_11_1.10.5_2.13.15 AS builder
WORKDIR /build
COPY build.sbt ./
COPY project ./project
# Compile against the SAME Spark jars the runtime image ships — the
# build declares them as an unmanaged jar directory (see build.sbt), so
# no artifact resolution is needed beyond the test scope.
COPY --from=apache/spark:4.1.2-java17 /opt/spark/jars /opt/spark/jars
COPY src ./src
RUN sbt -batch package

# Runtime: the official Spark image provides the JRE and the Spark
# classpath at /opt/spark/jars; the app layer is one thin jar + launcher.
FROM apache/spark:4.1.2-java17
USER root
COPY --from=builder /build/target/scala-2.13/downloaderspark_2.13-*.jar /app/graft.jar
COPY tools/graft-downloader /app/graft-downloader
RUN chmod +x /app/graft-downloader
ENV GRAFT_JAR=/app/graft.jar \
    SPARK_JARS_DIR=/opt/spark/jars \
    GRAFT_METRICS_PORT=9090
# Further config (all optional): GRAFT_FEEDS (the feeds per iteration,
# replacing the manifest URL argument), GRAFT_AUTH_USER / GRAFT_AUTH_PASS
# (Basic Auth — the license-key pattern), GRAFT_METRICS_FILE,
# GRAFT_CPUS, GRAFT_DRIVER_MEM; see tools/graft-downloader.
EXPOSE 9090
ENTRYPOINT ["/app/graft-downloader"]
# store root + manifest URL — override per deployment
CMD ["file:///data/archive", "https://example.org/rv/pfx2as-creation.log"]
