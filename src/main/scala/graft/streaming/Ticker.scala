package graft.streaming

import com.fasterxml.jackson.databind.ObjectMapper

/** S6 — the reference's price-ticks polling loop (`src/main.py:19-28`,
  * n iterations + sleep): `Main.priceTicks` fetches each tick with host
  * failover and parses the body here.
  */
object Ticker {

  private lazy val mapper = new ObjectMapper()

  /** Parse `{"symbol":"BTCUSDT","price":"42000.10"}`. */
  def parseTick(body: String): (String, Double) = {
    val n = mapper.readTree(body)
    (n.get("symbol").asText(), n.get("price").asText().toDouble)
  }
}
