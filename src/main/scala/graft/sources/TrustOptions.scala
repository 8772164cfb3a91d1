package graft.sources

/** Shared truststore option parsing for every source that speaks TLS
  * (the remote-SQL wires pg, MySQL and ClickHouse; the Flight SQL and
  * gRPC clients): `truststore`/`trustStore` names a PKCS12 pinning the
  * server's certificate, `truststorePassword`/`trustStorePassword`
  * unlocks it (default "changeit", the JDK keytool default). One
  * definition so the option aliases and defaults can't drift between
  * connectors. The context is rebuilt per use: options serialize to
  * executors, SSLContext does not.
  */
object TrustOptions {
  def sslContext(conf: Map[String, String]): Option[javax.net.ssl.SSLContext] =
    conf.get("truststore").orElse(conf.get("trustStore")).map(p =>
      graft.sources.grpc.Http2Grpc.trustContext(p,
        conf.getOrElse("truststorePassword",
          conf.getOrElse("trustStorePassword", "changeit"))))
}
