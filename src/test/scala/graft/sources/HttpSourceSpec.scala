package graft.sources

import java.net.InetSocketAddress
import java.nio.file.Files

import com.sun.net.httpserver.HttpServer
import org.apache.spark.sql.types._

import graft.SparkSpec

class HttpSourceSpec extends SparkSpec {
  import spark.implicits._

  private def withServer(body: String)(f: String => Unit): Unit = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/data.csv", { ex =>
      val bytes = body.getBytes("UTF-8")
      ex.sendResponseHeaders(200, bytes.length)
      ex.getResponseBody.write(bytes)
      ex.close()
    })
    server.start()
    try f(s"http://127.0.0.1:${server.getAddress.getPort}/data.csv")
    finally server.stop(0)
  }

  test("read fetches a URL and parses the body as a DataFrame") {
    withServer("id,name\n1,a\n2,b\n") { url =>
      val df = HttpSource.read(spark, url, "csv",
        schema = Some(StructType(Seq(
          StructField("id", IntegerType), StructField("name", StringType)))),
        options = Map("header" -> "true"))
      assert(df.orderBy("id").as[(Int, String)].collect().toSeq ==
        Seq((1, "a"), (2, "b")))
    }
  }

  test("download writes the body to the target dir and names it from the URL") {
    withServer("payload") { url =>
      val dir = tempDir("graft_http_t_")
      val path = HttpSource.download(url, dir)
      assert(path.getFileName.toString == "data.csv")
      assert(new String(Files.readAllBytes(path), "UTF-8") == "payload")
    }
  }
}
