package graft.sqlx

/** Per-request session overlay for the statement server (reference:
  * core/trino-main io/trino/server/QuerySessionSupplier.java:41 builds each
  * query's Session from the request's protocol headers;
  * client/trino-client ProtocolHeaders.java:73 REQUEST_SESSION /
  * REQUEST_SCHEMA / REQUEST_PREPARED_STATEMENT). The reference coordinator
  * is STATELESS across requests: `SET SESSION` does not mutate server
  * state — the server echoes `X-Trino-Set-Session` and the client carries
  * the property back on every subsequent request. That design is what makes
  * a fleet of coordinators horizontally scalable, and it is reproduced
  * here: [[graft.server.StatementServer]] parses each request once, answers
  * the session statements (SET/RESET SESSION [AUTHORIZATION], USE, PREPARE,
  * DEALLOCATE) from that AST as protocol headers, parses the request
  * headers into a [[Ctx]] and executes every other statement inside
  * [[SessionContext.within]]; the front-door readers ([[Statements]] SHOW
  * SESSION / schema resolution, [[TrinoDialect]] prepared-statement
  * lookup) consult the overlay first, and [[Statements]] refuses a session
  * statement that reaches it under a context (EXECUTE of its text).
  *
  * In-process callers (the gate, specs, the Scala API) never set a context,
  * so they keep the JVM-global session semantics they always had. */
private[graft] object SessionContext {

  /** One request's session view: properties from `X-Trino-Session`, the
    * current schema from `X-Trino-Schema`, prepared statements from
    * `X-Trino-Prepared-Statement` (name → SQL text). `user` is the
    * request's (possibly authenticated) identity; `enforce` marks it as
    * subject to grant enforcement (the server sets it false for
    * configured admins and when access control is off — in-process
    * callers never carry a context, so they are never enforced). */
  final case class Ctx(
      props: Map[String, String] = Map.empty,
      schema: Option[String] = None,
      prepared: Map[String, String] = Map.empty,
      user: Option[String] = None,
      enforce: Boolean = false)

  /** Identity subject to grant enforcement for this thread, if any. */
  def enforcedUser: Option[String] =
    current.filter(_.enforce).flatMap(_.user)

  private val tl = new ThreadLocal[Ctx]

  def current: Option[Ctx] = Option(tl.get)

  /** Run `f` with `ctx` as this thread's session overlay. The overlay is
    * strictly thread-scoped: concurrent statements on other worker threads
    * each see their own context (or none), so two clients' sessions can
    * never interfere through the server. */
  def within[A](ctx: Ctx)(f: => A): A = {
    val prev = tl.get
    tl.set(ctx)
    try f
    finally { if (prev == null) tl.remove() else tl.set(prev) }
  }

  /** Session properties visible to this thread: the overlay's map when a
    * context is active (stateless-server semantics: the header IS the
    * session), else the JVM-global front-door map. */
  def effectiveProps(global: => Map[String, String]): Map[String, String] =
    current.map(_.props).getOrElse(global)

  /** Schema override for this thread, if a context carries one. */
  def schemaOverride: Option[String] = current.flatMap(_.schema)

  /** Prepared-statement text carried by this request's headers, if any. */
  def preparedOverride(name: String): Option[String] =
    current.flatMap(_.prepared.get(name))
}
