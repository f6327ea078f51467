package hydra.localfs;

import java.io.IOException;
import java.net.URI;
import java.net.URISyntaxException;

import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.ChecksumFs;
import org.apache.hadoop.fs.DelegateToFileSystem;
import org.apache.hadoop.fs.FsConstants;
import org.apache.hadoop.fs.FsServerDefaults;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.local.LocalConfigKeys;

/**
 * The stock checksummed {@code file://} AbstractFileSystem (FileContext),
 * {@code org.apache.hadoop.fs.local.LocalFs}, over {@link NioRawLocalFileSystem}.
 */
public class NioLocalFs extends ChecksumFs {
  public NioLocalFs(URI uri, Configuration conf) throws IOException, URISyntaxException {
    super(new Raw(conf));
  }

  /** {@code org.apache.hadoop.fs.local.RawLocalFs}, whose constructors are package-private. */
  static class Raw extends DelegateToFileSystem {
    Raw(Configuration conf) throws IOException, URISyntaxException {
      super(FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem(), conf,
          FsConstants.LOCAL_FS_URI.getScheme(), false);
    }

    @Override
    public int getUriDefaultPort() {
      return -1;
    }

    @Override
    public FsServerDefaults getServerDefaults(Path f) throws IOException {
      return LocalConfigKeys.getServerDefaults();
    }

    @Override
    @SuppressWarnings("deprecation")
    public FsServerDefaults getServerDefaults() throws IOException {
      return LocalConfigKeys.getServerDefaults();
    }

    @Override
    public boolean isValidName(String src) {
      return true;
    }
  }
}
