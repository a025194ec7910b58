package graft.server

import graft.domain.QueryRequest

/** The benchmark's door to the server's package-private request parser, so
  * the traced run times the parser the server actually uses.
  */
object ServerProbe {
  def parse(server: ApiServer, body: String): QueryRequest = server.parseRequest(body)
}
